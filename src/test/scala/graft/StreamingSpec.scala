package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Watermark semantics under controlled micro-batches (SURVEY.md §2.9/§5):
  * MemoryStream lets each addData = one batch, so the watermark trajectory
  * is exact: wm = max(event time seen) - delay, updated between batches;
  * append emits a window only once wm passes its end; later rows older than
  * wm are dropped from stateful aggregation. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append window: late row beyond watermark is dropped, on-time kept") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      // batch 1: two rows in the 10:00 window, one at 12:05 => wm -> 11:55
      in.addData((ts("2024-01-01 10:10:00"), 1L), (ts("2024-01-01 10:20:00"), 2L),
        (ts("2024-01-01 12:05:00"), 3L))
      q.processAllAvailable()
      // batch 2: a LATE row for the already-finalized 10:00 window (dropped)
      // and an on-time row at 12:10
      in.addData((ts("2024-01-01 10:30:00"), 4L), (ts("2024-01-01 12:10:00"), 5L))
      q.processAllAvailable()
      // batch 3: advance event time so the 12:00 window finalizes too
      in.addData((ts("2024-01-01 14:00:00"), 6L))
      q.processAllAvailable()
      val out = spark.table("wm_test").collect()
        .map(r => r.getAs[Timestamp]("wstart").toString -> r.getAs[Long]("n")).toMap
      assert(out("2024-01-01 10:00:00.0") == 2L,
        s"late row must NOT count into the finalized window: $out")
      assert(out("2024-01-01 12:00:00.0") == 2L,
        s"on-time rows of the 12:00 window must both count: $out")
    } finally q.stop()
  }

  test("session_window merges events within gap, splits across it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"), col("user_id"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    try {
      in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:20:00"), 1L),
        (ts("2024-01-01 11:30:00"), 1L)) // > 30min after 10:20 => new session
      q.processAllAvailable()
      in.addData((ts("2024-01-01 15:00:00"), 1L)) // advance wm to close all
      q.processAllAvailable()
      val sessions = spark.table("sess_test").collect()
        .map(r => (r.getAs[Timestamp]("s").toString, r.getAs[Long]("n"))).sorted
      assert(sessions.contains(("2024-01-01 10:00:00.0", 2L)),
        s"first session should merge two events: ${sessions.mkString(",")}")
      assert(sessions.exists(s => s._1 == "2024-01-01 11:30:00.0" && s._2 == 1L),
        s"gap must split sessions: ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("checkpointed aggregation resumes exactly-once across a query restart") {
    // durable file source + checkpoint: run 1 consumes files A+B and
    // terminates; file C lands; run 2 under the SAME checkpoint must read
    // ONLY C on top of the recovered state. Complete-mode totals prove
    // exactly-once — if the restart re-read A/B, the recovered state would
    // double-count them.
    val srcDir = graft.U.scratch(sfDir, "recovery_src")
    val ckpt = graft.U.scratch(sfDir, "recovery_ckpt")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (p <- Seq(srcDir, ckpt)) fs.delete(new org.apache.hadoop.fs.Path(p), true)
    def writeFile(rows: Seq[Long]): Unit =
      rows.toDF("v").coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(name: String): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val q = spark.readStream.schema(schema).parquet(srcDir)
        .groupBy((col("v") % 3).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile(Seq(1L, 2L))
    writeFile(Seq(3L))
    runOnce("recov_a") // consumes A+B, commits offsets + state, stops
    writeFile(Seq(4L, 5L))
    runOnce("recov_b") // recovers, must process ONLY the new file
    val out = spark.table("recov_b").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exactly-once totals over {1..5}: g1={1,4}, g2={2,5}, g0={3}
    assert(out(1L) == ((2L, 5L)), s"group 1: ${out.get(1L)}")
    assert(out(2L) == ((2L, 7L)), s"group 2: ${out.get(2L)}")
    assert(out(0L) == ((1L, 3L)), s"group 0: ${out.get(0L)}")
  }

  test("declared streaming queries run a real streaming pipeline end-to-end") {
    val df = graft.streaming.StreamingQueries.queries("stream_stateful")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // running_n within each user is 1..k in event order
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val ns = rs.map(_.getAs[Long]("running_n")).sorted
      assert(ns.sameElements(1L to ns.length), "running counter must be dense")
    }
  }

  test("stream killed mid-replay resumes from checkpoint to the uninterrupted result") {
    // The 100 TB failure mode exactly-once exists for: a stateful stream
    // dies partway through its input, restarts from the checkpoint, and the
    // DURABLE sink must end up byte-identical to a never-interrupted run —
    // no dropped windows, no double-counted ones. Sink is a parquet
    // FileStreamSink (its _spark_metadata commit log is what makes the
    // read-back exactly-once); state is a watermarked window aggregate.
    val srcDir = graft.U.scratch(sfDir, "kill_src")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (tag <- Seq("kill_src", "kill_ck1", "kill_out1", "kill_ck2", "kill_out2"))
      fs.delete(new org.apache.hadoop.fs.Path(graft.U.scratch(sfDir, tag)), true)
    // 8 one-hour files with explicit increasing mtimes (same idiom as the
    // staged replay: same-tick writes would otherwise replay out of order)
    val base = ts("2024-03-01 00:00:00").getTime
    for (i <- 0 until 8) {
      Seq(0, 10, 25).map(m => (new Timestamp(base + i * 3600000L + m * 60000L), i.toLong))
        .toDF("ts", "v").coalesce(1).write.mode("append").parquet(srcDir)
      val fresh = fs.listStatus(new org.apache.hadoop.fs.Path(srcDir))
        .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getModificationTime)
      fs.setTimes(fresh.last.getPath, 1700000000000L + i * 1000L, -1L)
    }
    val schema = spark.read.parquet(srcDir).schema
    def start(ck: String, out: String) = {
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("wstart"), col("n"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", graft.U.scratch(sfDir, ck))
        .trigger(Trigger.AvailableNow())
        .format("parquet").start(graft.U.scratch(sfDir, out))
    }
    // uninterrupted reference run
    start("kill_ck2", "kill_out2").awaitTermination()
    // interrupted run: a listener kills the query after its 2nd committed
    // batch — mid-replay, with state and offsets checkpointed
    val killAfter = new java.util.concurrent.atomic.AtomicInteger(2)
    @volatile var victim: org.apache.spark.sql.streaming.StreamingQuery = null
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val q = victim
        if (q != null && e.progress.id == q.id && killAfter.decrementAndGet() == 0)
          new Thread(() => q.stop()).start()
      }
    }
    spark.streams.addListener(listener)
    try {
      val q1 = start("kill_ck1", "kill_out1")
      victim = q1
      q1.awaitTermination()
      victim = null
      // resume from the same checkpoint; AvailableNow drains the remaining
      // files + the no-data watermark-flush batch
      start("kill_ck1", "kill_out1").awaitTermination()
    } finally spark.streams.removeListener(listener)
    def readSink(tag: String): Map[String, Long] =
      spark.read.parquet(graft.U.scratch(sfDir, tag)).collect()
        .map(r => r.getAs[Timestamp]("wstart").toString -> r.getAs[Long]("n")).toMap
    val expected = readSink("kill_out2")
    val resumed = readSink("kill_out1")
    assert(expected.nonEmpty, "reference run must emit finalized windows")
    assert(resumed == expected,
      s"killed+resumed sink diverged: $resumed vs $expected")
  }

  test("stream_hysteresis equals the batch alarm query row-for-row") {
    // the two queries share ONE oracle; this pins the parity directly in
    // the suite as well, without DuckDB in the loop
    val batch = SparkEntry.queries("ts_hysteresis")(spark, sfDir).collect()
      .map(_.toString).sorted
    val stream = SparkEntry.queries("stream_hysteresis")(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.sameElements(stream),
      s"batch/stream alarm divergence: ${batch.length} vs ${stream.length}")
  }

  test("stream_cusum equals the batch tabular-CUSUM rollup row-for-row") {
    // the native max(0, ...) recursion in the processor vs the batch
    // closed-form window identity — same oracle, pinned directly too
    val batch = SparkEntry.queries("ts_cusum_alarm")(spark, sfDir).collect()
      .map(_.toString).sorted
    val stream = SparkEntry.queries("stream_cusum")(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.sameElements(stream),
      s"batch/stream CUSUM divergence: ${batch.length} vs ${stream.length}")
  }

  test("stream_page_hinkley equals the batch drift rollup row-for-row") {
    val batch = SparkEntry.queries("ts_page_hinkley")(spark, sfDir).collect()
      .map(_.toString).sorted
    val stream = SparkEntry.queries("stream_page_hinkley")(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.sameElements(stream),
      s"batch/stream Page-Hinkley divergence: " +
        s"${batch.length} vs ${stream.length}")
  }

  test("stream_sprt equals the batch sequential-test rollup row-for-row") {
    val batch = SparkEntry.queries("agg_sprt")(spark, sfDir).collect()
      .map(_.toString).sorted
    val stream = SparkEntry.queries("stream_sprt")(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.sameElements(stream),
      s"batch/stream SPRT divergence: ${batch.length} vs ${stream.length}")
  }

  test("stream_ewma equals the batch fold row-for-row (bit-exact doubles)") {
    // the EWMA double chain is order-sensitive: identical results prove
    // the stream applied the same op sequence in the same (ts, event_id)
    // order across micro-batch boundaries as the batch list fold
    val batch = SparkEntry.queries("ts_ewma")(spark, sfDir).collect()
      .map(_.toString).sorted
    val stream = SparkEntry.queries("stream_ewma")(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(batch.nonEmpty && batch.sameElements(stream),
      s"batch/stream EWMA divergence: ${batch.length} vs ${stream.length}")
  }

  test("stream_srm's last day equals the batch agg_srm guardrail") {
    // the running trajectory must CLOSE on the batch answer: cumulative
    // first-sight arm counts at the final day == total distinct users
    val batch = SparkEntry.queries("agg_srm")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n0"),
        r.getAs[Long]("n1"), r.getAs[Long]("srm_micro"))).toMap
    val lastPerType = SparkEntry.queries("stream_srm")(spark, sfDir)
      .collect().groupBy(_.getString(0))
      .map { case (et, rs) => et -> rs.maxBy(_.getAs[Long]("dayi")) }
    assert(lastPerType.keySet == batch.keySet)
    lastPerType.foreach { case (et, r) =>
      val (n0, n1, srm) = batch(et)
      assert(r.getAs[Long]("n0") == n0 && r.getAs[Long]("n1") == n1,
        s"$et cumulative arm counts must close on the batch totals")
      assert(r.getAs[Long]("srm_micro") == srm, s"$et final chi-square")
    }
  }

  test("stream_psi's last day closes on the batch agg_psi drift score") {
    val batch = SparkEntry.queries("agg_psi")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_pre"),
        r.getAs[Long]("n_post"), r.getAs[Long]("psi_micro"))).toMap
    val lastPerType = SparkEntry.queries("stream_psi")(spark, sfDir)
      .collect().groupBy(_.getString(0))
      .map { case (et, rs) => et -> rs.maxBy(_.getAs[Long]("dayi")) }
    assert(lastPerType.keySet == batch.keySet)
    lastPerType.foreach { case (et, r) =>
      val (np, nq, psi) = batch(et)
      assert(r.getAs[Long]("n_pre") == np && r.getAs[Long]("n_post") == nq,
        s"$et cumulative band totals must close on the batch window sizes")
      assert(r.getAs[Long]("psi_micro") == psi, s"$et final PSI")
    }
    // the trajectory is genuinely cumulative: n_post never decreases
    SparkEntry.queries("stream_psi")(spark, sfDir).collect()
      .groupBy(_.getString(0)).foreach { case (et, rs) =>
        rs.sortBy(_.getAs[Long]("dayi")).sliding(2).foreach { w =>
          if (w.length == 2)
            assert(w(0).getAs[Long]("n_post") <= w(1).getAs[Long]("n_post"),
              s"$et n_post must be monotone")
        }
      }
  }

  test("stream_neardup detects dups ACROSS micro-batches (state-path proof)") {
    // the staged docs replay runs 8 doc_id-range files at 4/trigger = 2
    // micro-batches with the range midpoint as the batch boundary; a dup
    // whose keeper (dup_of) is below the midpoint while the dup itself is
    // at-or-above it can only be caught if the band bucket's ValueState
    // SURVIVED the batch boundary — the state path, evidenced not assumed
    val docs = U.tbl(spark, sfDir, "documents")
    val b = docs.selectExpr("CAST(min(doc_id) AS BIGINT) lo",
      "CAST(max(doc_id) AS BIGINT) hi").head()
    val (lo, hi) = (b.getLong(0), b.getLong(1) + 1)
    val mid = lo + 4 * math.max((hi - lo) / 8, 1L)
    val got = SparkEntry.queries("stream_neardup")(spark, sfDir).collect()
    assert(got.length > 0 && got.exists(_.getAs[Boolean]("is_dup")),
      "expected at least one near-dup in the fixture corpus")
    val crossBatch = got.filter(r => r.getAs[Boolean]("is_dup") &&
      !r.isNullAt(r.fieldIndex("dup_of")) &&
      r.getAs[Long]("dup_of") < mid && r.getAs[Long]("doc_id") >= mid)
    assert(crossBatch.nonEmpty,
      s"no cross-batch dup found (boundary $mid) — state did not carry")
  }

  test("stream_union merges both branches and equals the batch rollup") {
    val got = SparkEntry.queries("stream_union")(spark, sfDir).collect()
    assert(got.map(_.getAs[String]("branch")).toSet ==
      Set("clicks", "purchases"))
    // batch recomputation: union aggregate over watermark-closed windows
    val u = U.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
    val wmRow = u.agg(max(col("ts"))).first().getTimestamp(0)
    val expected = u
      .select(col("ts"),
        when(col("event_type") === "click", "clicks").otherwise("purchases")
          .as("branch"),
        col("value"))
      .groupBy(window(col("ts"), "1 hour"), col("branch"))
      .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("branch"), col("n"),
        col("sum_value"))
      .filter(col("wstart") + expr("INTERVAL 1 HOUR") <=
        lit(wmRow) - expr("INTERVAL 10 MINUTES"))
      .collect().map(_.toString).sorted
    assert(expected.nonEmpty &&
      got.map(_.toString).sorted.sameElements(expected),
      s"stream/batch union divergence: ${got.length} vs ${expected.length}")
  }

  test("stream_idle_timeout fires trailing alerts through event-time timers") {
    // trailing idles (a user's LAST event, no successor to reveal the gap)
    // can ONLY come from handleExpiredTimer — their presence proves the
    // event-time timer path (registerTimer → watermark → expiry) engaged,
    // including the extra pending-timer batch after AvailableNow drains
    val got = graft.streaming.StreamingQueries
      .queries("stream_idle_timeout")(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("idle_since").getTime))
      .toSet
    val lastEv = U.events(spark, sfDir)
      .groupBy(col("user_id")).agg(max(col("ts")).as("last_ts"),
        max(unix_micros(col("ts"))).as("last_us"))
      .collect()
    val wmMs = lastEv.map(_.getAs[Long]("last_us")).max / 1000 - 600000
    val trailing = lastEv
      .filter(r => r.getAs[Long]("last_us") / 1000 + 1800000 <= wmMs)
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("last_ts").getTime))
    assert(trailing.nonEmpty, "fixture has no trailing-idle user to test with")
    val missing = trailing.filterNot(got.contains)
    assert(missing.isEmpty,
      s"timer-path alerts missing for ${missing.take(5).mkString(", ")}")
  }

  test("custom sink totals survive a pre-existing checkpoint (full re-replay)") {
    // Regression: the first run leaves a checkpoint; a second run in the
    // same (or a later) JVM must still total the WHOLE replay — a reused
    // checkpoint would make AvailableNow ship zero epochs into the
    // accumulator and report 0 rows.
    val run1 = graft.streaming.StreamingQueries
      .queries("stream_custom_sink")(spark, sfDir).collect()
    val run2 = graft.streaming.StreamingQueries
      .queries("stream_custom_sink")(spark, sfDir).collect()
    assert(run1.head.getLong(0) > 0L, "first run must count the replay")
    assert(run1.head.getLong(0) == run2.head.getLong(0) &&
      run1.head.getLong(1) == run2.head.getLong(1),
      s"re-run must reproduce identical totals: ${run1.head} vs ${run2.head}")
  }

  test("a staged replay restages when its source parquet is rewritten in place") {
    // the staged stream files are reused only while the source parquet
    // keeps its length and mtime: regenerating events.parquet at the same
    // path must make the replay see the new rows, not the staged old ones
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = Files.createTempDirectory("graft_restage").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Files.copy(Paths.get(sfDir, "events.parquet"), Paths.get(d, "events.parquet"))
    try {
      def batch() = U.events(spark, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("wstart"), col("n"))
        .orderBy("wstart").collect().toSeq
      def streamed() = SparkEntry.queries("stream_sliding")(spark, d)
        .select(col("wstart"), col("n")).collect().toSeq
      val before = batch()
      assert(streamed() == before, "first replay must match its source")
      val subset = s"$d/subset"
      spark.read.parquet(s"$d/events.parquet")
        .filter(col("event_id") % 3 =!= 0)
        .coalesce(1).write.parquet(subset)
      val part = new java.io.File(subset).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(d, "events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val after = batch()
      assert(after != before, "the subset must change the answer")
      assert(streamed() == after, "replay after the rewrite must see the new rows")
    } finally Seq(d, U.scratch(d, "stream_events")).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
  }
}
