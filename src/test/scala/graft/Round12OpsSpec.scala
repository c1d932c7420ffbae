package graft

import org.apache.spark.sql.functions._

/** Round-12 operator semantics against hand-computed fixtures. */
class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  /** Stage a merge-on-read delete of `ids` on key column `id`. */
  private def deleteIds(root: String, ids: Long*): Long =
    graft.sources.Snapshots.commitDelete(root, "id")(out =>
      ids.toDF("id").write.mode("append").parquet(out))

  test("ts_sessionize cuts sessions at the 30-minute gap, hand-checked") {
    // user 1: events at t0, +10m, +40m10s (gap 30m10s → new session),
    //         +41m (same session). user 2: one event (one session).
    // A duplicate timestamp inside a session (distinct event_id) must
    // not open a new session.
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC, µs
    val m = 60L * 1000000L
    val rows = Seq(
      (10L, t0, 1L, "view", 1.0, "{}"),
      (11L, t0 + 10 * m, 1L, "click", 2.0, "{}"),
      (12L, t0 + 10 * m, 1L, "view", 3.0, "{}"), // dup ts, same session
      (13L, t0 + 40 * m + 10000000L, 1L, "view", 4.0, "{}"),
      (14L, t0 + 41 * m, 1L, "purchase", 5.0, "{}"),
      (20L, t0, 2L, "view", 7.0, "{}"))
    val dir = s"${Qx.tmpOut("sessfix", sf())}/fix"
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = graft.operators.Windows.tsSessionize(spark, dir)
      .select($"user_id", $"session_idx", unix_micros($"session_start"),
        unix_micros($"session_end"), $"n_events", $"total_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, t0, t0 + 10 * m, 3L, 6.0),
      (1L, 2L, t0 + 40 * m + 10000000L, t0 + 41 * m, 2L, 9.0),
      (2L, 1L, t0, t0, 1L, 7.0)))
  }

  test("ts_sessionize: a gap of exactly 30 minutes stays in-session") {
    val t0 = 1704067200000000L
    val rows = Seq(
      (1L, t0, 5L, "view", 1.0, "{}"),
      (2L, t0 + 1800L * 1000000L, 5L, "view", 1.0, "{}")) // == threshold
    val dir = s"${Qx.tmpOut("sessfix2", sf())}/fix"
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Windows.tsSessionize(spark, dir)
    assert(got.count() == 1, "strict > threshold: boundary stays in-session")
  }

  test("restore rolls the head back as a new commit; history rolls forward") {
    import graft.sources.Snapshots
    val root = s"${Qx.tmpOut("restspec", sf())}/store"
    val v1 = Snapshots.commit(root)(out =>
      spark.range(5).select($"id").write.mode("append").parquet(out))
    val v2 = Snapshots.commitAppend(root)(out =>
      spark.range(5, 8).select($"id").write.mode("append").parquet(out))
    val v3 = Snapshots.restore(root, v1)
    assert(v3 == v2 + 1, "restore is an ordinary new version")
    assert(Snapshots.read(spark, root).count() == 5, "head rolled back to v1")
    assert(Snapshots.readAt(spark, root, v2).count() == 8,
      "the rolled-back-over version stays time-travelable")
    // restore FORWARD to the rolled-over version works the same way
    Snapshots.restore(root, v2)
    assert(Snapshots.read(spark, root).count() == 8)
    // monotonic commit timestamps survive restores
    val ts = (1L to Snapshots.maxCommitted(root))
      .flatMap(Snapshots.commitTimestamp(root, _))
    assert(ts == ts.sorted && ts.distinct.size == ts.size)
  }

  test("restore carries a version's pending MOR deletes with it") {
    import graft.sources.Snapshots
    val root = s"${Qx.tmpOut("restmor", sf())}/store"
    Snapshots.commit(root)(out =>
      spark.range(10).select($"id", ($"id" * 2).as("v"))
        .write.mode("append").parquet(out))
    deleteIds(root, 7L, 8L, 9L)
    val vDel = Snapshots.maxCommitted(root)
    Snapshots.commitAppend(root)(out =>
      spark.range(20, 23).select($"id", ($"id" * 2).as("v"))
        .write.mode("append").parquet(out))
    Snapshots.restore(root, vDel)
    assert(Snapshots.read(spark, root).select($"id")
      .as[Long].collect().toSet == (0L until 7L).toSet,
      "restored head re-applies the pending delete, drops the later append")
  }

  test("WAP publish appends staged files by reference; MOR deletes scope correctly around publishes") {
    import graft.sources.Snapshots
    val base = Qx.tmpOut("wapspec", sf())
    val main = s"$base/main"
    val staging = s"$base/staging"
    Snapshots.commit(main)(out =>
      spark.range(5).select($"id").write.mode("append").parquet(out))
    Snapshots.commit(staging)(out =>
      spark.range(100, 103).select($"id").write.mode("append").parquet(out))
    val stagedFiles = Snapshots.resolve(staging).get.files.toSet
    Snapshots.publishFrom(main, staging)
    assert(Snapshots.read(spark, main).select($"id").as[Long].collect().toSet
      == ((0L until 5L) ++ (100L until 103L)).toSet)
    assert(stagedFiles.subsetOf(Snapshots.resolve(main).get.files.toSet),
      "publish is by reference: main's manifest lists the staging files in place")
    assert(Snapshots.read(spark, staging).count() == 3,
      "staging stays independently readable")
    // publishing into a delete-pending MAIN is allowed and CORRECT:
    // the published files' #seq: pins give them an effective sequence
    // number ABOVE the pending delete's coversBelow, so they escape a
    // delete that predates them — while the delete still covers main's
    // own older files (r12's cross-root misread, fixed via seq pinning)
    deleteIds(main, 1L)
    val staging3 = s"$base/staging3"
    Snapshots.commit(staging3)(out =>
      spark.range(300, 302).select($"id").write.mode("append").parquet(out))
    Snapshots.publishFrom(main, staging3)
    assert(Snapshots.read(spark, main).select($"id").as[Long].collect().toSet
      == (Set(0L, 2L, 3L, 4L) ++ (100L until 103L) ++ (300L until 302L)),
      "pre-publish delete still applies to old files; published rows escape it")
    // ...and a delete committed AFTER a publish covers the published
    // rows (the r12 advisory bug: staging's own v-counter used to leak
    // into main's scoping and let published rows escape later deletes)
    deleteIds(main, 301L)
    assert(Snapshots.read(spark, main).select($"id").as[Long].collect().toSet
      == (Set(0L, 2L, 3L, 4L) ++ (100L until 103L) ++ Set(300L)),
      "post-publish delete covers the published batch via its #seq pin")
    // a delete-pending STAGING head still refuses
    val staging2 = s"$base/staging2"
    Snapshots.commit(staging2)(out =>
      spark.range(200, 205).select($"id").write.mode("append").parquet(out))
    deleteIds(staging2, 201L)
    val main2 = s"$base/main2"
    Snapshots.commit(main2)(out =>
      spark.range(3).select($"id").write.mode("append").parquet(out))
    val ex2 = intercept[IllegalArgumentException](
      Snapshots.publishFrom(main2, staging2))
    assert(ex2.getMessage.contains("merge-on-read deletes"))
  }

  test("racing publish and append: both commits land, no rows lost") {
    import graft.sources.Snapshots
    val base = Qx.tmpOut("waprace", sf())
    val main = s"$base/main"
    val staging = s"$base/staging"
    Snapshots.commit(main)(out =>
      spark.range(5).select($"id").write.mode("append").parquet(out))
    Snapshots.commit(staging)(out =>
      spark.range(100, 103).select($"id").write.mode("append").parquet(out))
    // the loser of the manifest race must retry onto the winner's head
    Qx.inParallel(Seq(
      () => Snapshots.publishFrom(main, staging),
      () => Snapshots.commitAppend(main)(out =>
        spark.range(200, 204).select($"id").write.mode("append").parquet(out))
    ), width = 2)(_.apply())
    assert(Snapshots.maxCommitted(main) == 3L, "both commits landed")
    assert(Snapshots.read(spark, main).select($"id").as[Long].collect().toSet
      == ((0L until 5L) ++ (100L until 103L) ++ (200L until 204L)).toSet,
      "base, published, and appended rows all present whatever the order")
  }

  test("vacuum after restore keeps the restored head's (old) files alive") {
    import graft.sources.Snapshots
    val root = s"${Qx.tmpOut("restvac", sf())}/store"
    val v1 = Snapshots.commit(root)(out =>
      spark.range(5).select($"id").write.mode("append").parquet(out))
    val v2 = Snapshots.commitAppend(root)(out =>
      spark.range(5, 8).select($"id").write.mode("append").parquet(out))
    Snapshots.restore(root, v1)
    Snapshots.vacuum(root, keepLast = 1)
    // the head references v1-era files; vacuum must keep them even
    // though v1's own manifest is expired
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet
      == (0L until 5L).toSet, "restored head survives retention")
    intercept[IllegalStateException](Snapshots.readAt(spark, root, v2))
  }
}
