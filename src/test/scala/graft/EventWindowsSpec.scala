package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.OutputMode
import graft.queries.Scratch
import graft.streaming.EventWindows

/** Event-time semantics: watermark finalization + late-data drop,
  * session-window merging, stateful first-seen dedup. */
case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class EventWindowsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(sec: Int, user: Long, typ: String, v: Double) =
    Ev(new Timestamp(sec * 1000L), user, typ, v)

  test("watermarked tumbling windows finalize once the watermark passes; late data dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventWindows.windowedStats(in.toDF(), "ts", "10 seconds", "30 seconds")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()

    in.addData(ev(5, 1, "a", 1.0), ev(10, 1, "a", 2.0), ev(35, 2, "b", 5.0))
    q.processAllAvailable()
    // advance watermark far past window [0,30): 100s - 10s wm >> 30
    in.addData(ev(100, 3, "c", 0.0))
    q.processAllAvailable()
    // a LATE event for the closed [0,30) window must be dropped
    in.addData(ev(7, 9, "a", 100.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_out")
      .select("event_type", "n", "sum_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    rows should contain(("a", 2L, 3.0)) // late 100.0 NOT included
    rows.map(_._1) should not contain "c" // its window never finalized
  }

  test("session windows merge events within the gap per user") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventWindows.sessionStats(in.toDF(), "ts", "5 seconds", "10 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()

    // user 1: events at 0s and 8s (gap 8 < 10 -> ONE session),
    // user 2: events at 0s and 25s (gap 25 > 10 -> TWO sessions)
    in.addData(ev(0, 1, "a", 1.0), ev(8, 1, "a", 2.0),
      ev(0, 2, "b", 3.0), ev(25, 2, "b", 4.0))
    q.processAllAvailable()
    in.addData(ev(200, 9, "z", 0.0)) // push the watermark, finalize all
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_out")
      .select("user_id", "n", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    rows.filter(_._1 == 1L) shouldBe Array((1L, 2L, 3.0))
    rows.filter(_._1 == 2L).toSet shouldBe Set((2L, 1L, 3.0), (2L, 1L, 4.0))
  }

  test("stream-static enrichment joins the dimension per micro-batch, stateless") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    // static dimension: user parity -> cohort name
    val dim = Seq((0L, "even"), (1L, "odd")).toDF("k", "cohort")
    val q = EventWindows.enrichedWindowedStats(in.toDF(),
        pmod(col("user_id"), lit(2L)), dim, "k", "cohort",
        "ts", "10 seconds", "30 seconds")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()

    in.addData(ev(5, 1, "a", 1.0), ev(10, 3, "a", 2.0), ev(12, 2, "b", 5.0))
    q.processAllAvailable()
    in.addData(ev(100, 4, "c", 0.0)) // advance watermark, finalize [0,30)
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("enrich_out")
      .select("cohort", "n", "sum_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    rows should contain(("odd", 2L, 3.0)) // users 1 and 3
    rows should contain(("even", 1L, 5.0)) // user 2
  }

  test("transformWithState running tally accumulates state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventWindows.{TallyIn, TallyOut}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[TallyIn]
      val q = graft.streaming.EventWindows.runningTally(in.toDS())
        .writeStream.format("memory").queryName("tally_out")
        .outputMode(OutputMode.Append()).start()
      in.addData(TallyIn(1L, 2.0), TallyIn(1L, 5.0))
      q.processAllAvailable()
      in.addData(TallyIn(1L, 3.0), TallyIn(2L, 7.0)) // state must carry over
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tally_out").as[TallyOut].collect()
      rows.filter(_.user_id == 1L).map(r => (r.n_seen, r.max_value))
        .toSet shouldBe Set((2L, 5.0), (3L, 5.0)) // cumulative, not per-batch
      rows.filter(_.user_id == 2L).map(r => (r.n_seen, r.max_value))
        .toSet shouldBe Set((1L, 7.0))
    } finally saved match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("update-mode aggregate re-emits a key's new total each micro-batch (serving contract)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = in.toDF().groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName("serve_out")
      .outputMode(OutputMode.Update()).start()
    in.addData(ev(1, 1, "a", 1.0), ev(2, 1, "a", 1.0))
    q.processAllAvailable()
    in.addData(ev(3, 1, "a", 1.0), ev(4, 2, "b", 1.0)) // user 1 updates
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("serve_out")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // user 1 emitted twice — cumulative totals 2 then 3; the LATEST
    // emission is the serving value (what q131's batch-id rank picks)
    rows.filter(_._1 == 1L).map(_._2).toSet shouldBe Set(2L, 3L)
    rows.filter(_._1 == 2L).map(_._2).toSet shouldBe Set(1L)
  }

  test("stateful first-seen dedup emits each key once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventWindows.dedupFirstSeen[Ev](in.toDS(), e => s"${e.user_id}")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()

    in.addData(ev(1, 1, "a", 1.0), ev(2, 1, "a", 2.0), ev(3, 2, "b", 3.0))
    q.processAllAvailable()
    in.addData(ev(4, 1, "a", 4.0), ev(5, 3, "c", 5.0)) // user 1 again + new user 3
    q.processAllAvailable()
    q.stop()

    val users = spark.table("dedup_out").select("user_id").as[Long].collect().sorted
    users shouldBe Array(1L, 2L, 3L) // each exactly once
  }

  test("stream-stream interval join pairs in-range rows per key; out-of-range excluded") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val l = clicks.toDF().select($"ts".as("c_ts"), $"user_id".as("c_user"),
      $"value".as("c_value"))
    val r = purchases.toDF().select($"ts".as("p_ts"), $"user_id".as("p_user"),
      $"value".as("p_value"))
    // inner join (deterministic to drain): purchases within 10s before the click
    val q = EventWindows.intervalJoin(
        l, "c_user", "c_ts", "5 seconds",
        r, "p_user", "p_ts", "5 seconds",
        maxAge = "10 seconds", joinType = "inner")
      .select($"c_user", $"c_ts", $"p_ts", $"p_value")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()

    // user 1: purchase at 5s, clicks at 8s (in range: 8-10 <= 5 <= 8)
    // and at 20s (out of range: 5 < 20-10); purchase at 9s AFTER the 8s
    // click (excluded: p_ts > c_ts for the 8s click, in range for 20s? 9 < 10 -> no, 20-10=10 > 9 -> out)
    // user 2: click with no purchase -> inner join drops it
    purchases.addData(ev(5, 1, "purchase", 50.0), ev(9, 1, "purchase", 60.0))
    clicks.addData(ev(8, 1, "click", 1.0), ev(20, 1, "click", 2.0),
      ev(8, 2, "click", 3.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ij_out")
      .select("c_user", "c_ts", "p_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000, r.getDouble(2)))
      .sorted
    // click@8 pairs with purchase@5 (in [−2, 8]) but NOT purchase@9 (future);
    // click@20 pairs with NEITHER (window [10, 20]: 5 and 9 both too old);
    // user 2 has no purchases at all
    rows.toSeq shouldBe Seq((1L, 8L, 50.0))
  }

  test("full-outer interval join: both-side eviction + MEASURED late-drop " +
      "(StreamingQueryProgress.numRowsDroppedByWatermark)") {
    // VERDICT r7 #6: late-data policy measured, not asserted. Arrival
    // order is made deterministic with a two-phase CHECKPOINTED drain:
    // phase 1 processes file A and persists its watermark; phase 2 adds
    // file B whose purchase is far below that watermark — the engine
    // must drop it pre-state and report the drop in progress metrics.
    val base = java.nio.file.Files.createTempDirectory("foj_late").toFile
    val inDir = new java.io.File(base, "in"); inDir.mkdirs()
    def writeBatch(name: String, rows: Seq[Ev]): Unit = {
      val tmp = new java.io.File(base, s"stage_$name")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$name.parquet").toPath)
    }
    def drainOnce(): (Seq[(Any, Any)], Long) = {
      val ev = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[Ev]].schema)
        .parquet(inDir.getAbsolutePath)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("ts").as("c_ts"), col("user_id").as("c_user"),
          col("value").as("c_value"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("ts").as("p_ts"), col("user_id").as("p_user"),
          col("value").as("p_value"))
      val joined = EventWindows.intervalJoin(
        clicks, "c_user", "c_ts", "5 seconds",
        purchases, "p_user", "p_ts", "5 seconds",
        maxAge = "10 seconds", joinType = "fullOuter")
      val q = joined.writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", new java.io.File(base, "ckpt").getAbsolutePath)
        .outputMode(OutputMode.Append())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append")
            .parquet(new java.io.File(base, "out").getAbsolutePath)
        }
        .start()
      q.awaitTermination()
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      val out =
        if (new java.io.File(base, "out").exists)
          spark.read.parquet(new java.io.File(base, "out").getAbsolutePath)
            .select(col("c_value"), col("p_value")).collect()
            .map(r => (r.get(0), r.get(1))).toSeq
        else Seq.empty
      (out, dropped)
    }
    try {
      // phase 1: click@100 matches purchase@95; click@8 and purchase@5
      // are each unmatched and watermark-finalized by the 200s tail
      // event (wm -> 195s > both eviction deadlines); user 9's tail
      // keeps the watermark high
      writeBatch("a", Seq(
        ev(5, 2, "purchase", 50.0), ev(8, 3, "click", 1.0),
        ev(95, 1, "purchase", 70.0), ev(100, 1, "click", 2.0),
        ev(200, 9, "click", 9.0)))
      val (out1, dropped1) = drainOnce()
      dropped1 shouldBe 0L // nothing late in phase 1
      out1 should contain((2.0, 70.0))  // matched pair
      out1 should contain((1.0, null))  // left eviction: unmatched click
      out1 should contain((null, 50.0)) // RIGHT eviction: unmatched purchase
      // phase 2: a purchase at t=20s arrives under the checkpointed
      // ~195s watermark -> dropped pre-state, measured in progress
      writeBatch("b", Seq(ev(20, 1, "purchase", 99.0)))
      val (out2, dropped2) = drainOnce()
      dropped2 shouldBe 1L
      out2.count(_ == ((null, 99.0))) shouldBe 0 // the late row never surfaces
    } finally Scratch.deleteTree(base)
  }
}
