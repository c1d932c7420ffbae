package graft.streaming

import graft.Tables
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end deployable streaming shape (SURVEY §2.9): file source →
  * watermarked tumbling aggregation → parquet sink with checkpointing —
  * the offline equivalent of the Kafka pipeline a production deployment
  * runs (no Kafka in this environment; file/rate/memory only).
  *
  * Feeds the events table into a staging directory in three batches so
  * the query processes multiple micro-batches, then prints the sink row
  * count. Run: sbt "runMain graft.streaming.StreamDemo [sfDir]".
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("graft_stream_demo").toString
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    Files.createDirectories(Paths.get(in))

    val events = Tables.load(spark, sfDir, "events").cache()
    val schema = events.schema

    val stream = spark.readStream.schema(schema).parquet(in)
    val query = StreamRunner.tumblingWithWatermark(stream)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

    // Three arrival waves in EVENT-TIME order — id-interleaved waves
    // would land waves 2-3 behind the wave-1-advanced watermark and be
    // (correctly) dropped as late; time-ordered waves exercise multiple
    // micro-batches with every event on time.
    val boundsRow = events
      .agg(unix_micros(min($"ts")), unix_micros(max($"ts")))
      .collect().head
    // a null min means zero events — fail fast with the real problem
    // instead of null.asInstanceOf[Long] silently unboxing to 0 and
    // producing three degenerate empty waves
    require(!boundsRow.isNullAt(0),
      s"no events found under the given sf dir — wrong path?")
    val Array(tMin, tMax) =
      boundsRow.toSeq.map(_.asInstanceOf[Long]).toArray
    val third = (tMax - tMin) / 3
    val bounds = Seq(
      $"ts" < timestamp_micros(lit(tMin + third)),
      $"ts" >= timestamp_micros(lit(tMin + third)) &&
        $"ts" < timestamp_micros(lit(tMin + 2 * third)),
      $"ts" >= timestamp_micros(lit(tMin + 2 * third)))
    bounds.zipWithIndex.foreach { case (cond, i) =>
      events.filter(cond).write.mode("append").parquet(in)
      query.processAllAvailable()
      println(s"[stream-demo] wave $i ingested")
    }
    query.stop()

    // In append mode no window is emitted until the watermark passes its
    // end, so a short event-time span can legitimately leave the sink
    // with ZERO data files — then the read itself throws (no schema to
    // infer), not the aggregate. Treat that as "0 windows" rather than
    // crashing the demo; the null-safe get covers the read-ok-but-empty
    // edge (e.g. a files-present, rows-empty sink).
    val (nWindows, total) =
      try {
        val sunk = spark.read.parquet(out)
        (sunk.count(),
          Option(sunk.agg(sum($"n")).collect().head.get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L))
      } catch {
        case _: org.apache.spark.sql.AnalysisException => (0L, 0L)
      }
    println(s"[stream-demo] windows emitted to parquet sink: $nWindows" +
      s" (covering $total events of ${events.count()})")
    val ckptStream = Files.list(Paths.get(ckpt))
    try println(s"[stream-demo] checkpoint dirs: ${ckptStream.count()}")
    finally ckptStream.close()
    spark.stop()
  }
}
