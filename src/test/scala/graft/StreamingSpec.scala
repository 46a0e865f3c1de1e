package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming specs: the streaming hourly rollup must agree
  * with its batch twin, and stateful per-user counts must match a
  * batch groupBy. */
class StreamingSpec extends SparkSpec {

  test("streaming hourly rollup equals batch aggregation") {
    val streamed = graft.streaming.EventStreams
      .hourlyRollupBatchDriven(spark, sf)
      .collect()
    val batch = graft.queries.Analytics.q18TimeWindow(spark, sf)
      .select(col("hour"), col("event_type"), col("n_events"), col("sum_value"))
      .collect()
    assert(streamed.length === batch.length)
    val sKeys = streamed.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val bKeys = batch.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(sKeys === bKeys)
  }

  test("streaming session windows equal the watermark-closed batch sessions") {
    val streamed = graft.streaming.EventStreams
      .sessionRollupBatchDriven(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    // append-mode semantics: a session emits iff the final watermark
    // (max event time − 2h) passed its end (last event + 30-min gap)
    val ev = graft.sources.Events.ev(spark, sf)
    val wm = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) -
      7200L * 1000000L
    val batchAll = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double").as("session_value"))
    val batchClosed = batchAll
      .filter(unix_micros(col("session_window.end")) <= wm)
      .select(col("user_id"), col("session_window.start"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_window.start"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq === batchClosed.toSeq)
    // dynamic-extent merging actually happened: some session holds >1 event
    assert(streamed.exists(_._3 > 1L))
    // the watermark horizon actually held sessions back — non-vacuous gate
    assert(batchAll.count() > streamed.length,
      "no session was held back by the watermark — horizon gate is vacuous")
  }

  test("streaming dedup equals batch distinct") {
    val streamed = graft.streaming.EventStreams
      .streamingDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read
      .parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed === batch)
    // and duplicates were actually present to drop (the test is vacuous
    // if the bounded stream happens to be duplicate-free)
    val raw = spark.read.parquet(s"$sf/events.parquet").count()
    assert(streamed.values.sum < raw)
  }

  test("stateful streaming user counts equal batch counts") {
    val streamed = graft.streaming.EventStreams
      .statefulUserCounts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read
      .parquet(s"$sf/events.parquet")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch)
  }

  test("stateful streaming sink is file-backed — no driver-side micro-batch data") {
    // r3 verdict item #1: the q39 sink must be the q87-style keyed
    // versioned file target, not a driver ConcurrentHashMap. The
    // returned frame must therefore READ BACK from the parquet sink
    // (a FileSourceScan over the scratch dir), not be rebuilt from
    // driver-local rows (a LocalRelation).
    val df = graft.streaming.EventStreams.statefulUserCounts(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    val fileScanPaths = plan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    assert(fileScanPaths.exists(_.contains("graft_stream_stateful")),
      s"expected a parquet scan over the versioned sink, got: $plan")
    val localRelations = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.data.nonEmpty => l
    }
    assert(localRelations.isEmpty,
      "driver-side rows leaked into the q39 result plan")
  }

  test("left-outer stream-stream join: matches + watermark-closed unmatched only") {
    val streamed = graft.streaming.EventStreams
      .clickPurchaseLeftOuter(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val ev = graft.sources.Events.ev(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    // the final global watermark: min of the two sides' max event time, −1h
    val wm = math.min(
      clicks.agg(max(unix_micros(col("c_ts")))).collect()(0).getLong(0),
      purchases.agg(max(unix_micros(col("p_ts")))).collect()(0).getLong(0)) - 3600L * 1000000L
    val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"), "left_outer")
    val batch = joined
      .groupBy(col("c_user"))
      .agg(count(when(col("p_ts").isNotNull, 1)).as("m"),
        count(when(col("p_ts").isNull &&
          unix_micros(col("c_ts")) + 1800L * 1000000L < wm, 1)).as("u"))
      .filter(col("m") > 0 || col("u") > 0)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
    // the outer path and the hold-back must both actually occur
    assert(streamed.values.exists(_._2 > 0), "no unmatched clicks emitted")
    val allUnmatched = joined.filter(col("p_ts").isNull).count()
    assert(allUnmatched > streamed.values.map(_._2).sum,
      "watermark horizon never held a click back — gate is vacuous")
  }

  test("full-outer stream-stream join: matches + both watermark-closed unmatched sides") {
    val streamed = graft.streaming.EventStreams
      .clickPurchaseFullOuter(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ev = graft.sources.Events.ev(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val wm = math.min(
      clicks.agg(max(unix_micros(col("c_ts")))).collect()(0).getLong(0),
      purchases.agg(max(unix_micros(col("p_ts")))).collect()(0).getLong(0)) -
      3600L * 1000000L
    val cond = col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES")
    val m = clicks.join(purchases, cond)
      .groupBy(col("c_user").as("u")).agg(count(lit(1)).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uc = clicks.join(purchases, cond, "left_anti")
      .filter(unix_micros(col("c_ts")) + 1800L * 1000000L < wm)
      .groupBy(col("c_user")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val up = purchases.join(clicks, cond, "left_anti")
      .filter(unix_micros(col("p_ts")) < wm)
      .groupBy(col("p_user")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val users = (m.keySet ++ uc.keySet ++ up.keySet)
    val batch = users.map(u => u ->
      (m.getOrElse(u, 0L), uc.getOrElse(u, 0L), up.getOrElse(u, 0L))).toMap
    assert(streamed === batch)
    // both outer paths actually occurred — non-vacuous
    assert(streamed.values.exists(_._2 > 0), "no unmatched clicks emitted")
    assert(streamed.values.exists(_._3 > 0), "no unmatched purchases emitted")
    // and the horizon held something back on each side
    val allUc = clicks.join(purchases, cond, "left_anti").count()
    val allUp = purchases.join(clicks, cond, "left_anti").count()
    assert(allUc > streamed.values.map(_._2).sum, "click hold-back vacuous")
    assert(allUp > streamed.values.map(_._3).sum, "purchase hold-back vacuous")
  }

  test("stream-stream join attribution equals batch self-join") {
    val streamed = graft.streaming.EventStreams
      .clickPurchaseAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val ev = graft.sources.Events.ev(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val batch = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(col("c_user"))
      .agg(count(lit(1)).as("n"),
        sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("d"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty) // pairs actually exist at this sf
  }

  test("stream-static enrichment equals the batch dimension join") {
    val streamed = graft.streaming.EventStreams
      .enrichedSegmentRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val batch = ev.join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double").as("s"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("checkpointed file sink is exactly-once across stream restarts") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_ck_in").toString
    val out = Files.createTempDirectory("graft_ck_out").toString
    val cp = Files.createTempDirectory("graft_ck_cp").toString
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))

    def runDrain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream.format("parquet")
        .option("checkpointLocation", cp)
        .option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    (0L until 100L).toDF("id").write.mode("append").parquet(in)
    runDrain()
    assert(spark.read.parquet(out).count() === 100)

    // restart with NO new data: the checkpoint prevents reprocessing
    runDrain()
    assert(spark.read.parquet(out).count() === 100)

    // restart with a second batch: only the delta lands, exactly once
    (100L until 150L).toDF("id").write.mode("append").parquet(in)
    runDrain()
    val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0))
    assert(ids.length === 150)
    assert(ids.toSet === (0L until 150L).toSet) // no duplicates, no gaps
  }

  test("RocksDB state store provider: watermarked rollup agrees with default store") {
    // the 100 TB state backend: state spills to local RocksDB instead
    // of executor heap. Same query, same answer — only the provider
    // differs; this pins that the engine's streaming queries run
    // unmodified on the scale configuration.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = graft.streaming.EventStreams
        .hourlyRollupBatchDriven(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      spark.conf.unset(key)
      val default = graft.streaming.EventStreams
        .hourlyRollupBatchDriven(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(rocks === default)
      assert(rocks.nonEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming upsert final state equals batch latest-per-key") {
    val streamed = graft.streaming.EventStreams
      .streamingUpsert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type")
          .orderBy(desc("ts"), desc("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      .orderBy("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq === batch.toSeq)
  }

  // ------------------------------------------------------------------
  // Watermark BOUNDARY fixtures (round-6 advice): the q126/q151/q133
  // oracles encode exact boundary strictness for state eviction (q126
  // emits sessions with end_us <= horizon; q133/q151 emit unmatched
  // rows only when the expiry is strictly < the horizon). Testdata
  // never lands an event exactly ON the horizon, so these fixtures
  // plant one — if a Spark upgrade flips a comparison, the flip trips
  // HERE with a named assertion instead of as an opaque oracle hash
  // mismatch. All instants are second-aligned (watermarks track ms).
  // ------------------------------------------------------------------

  private val MICROS_H = 3600L * 1000000L
  private val MICROS_30M = 1800L * 1000000L

  test("watermark boundary: session ending exactly at the horizon is emitted (<= semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 86400L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    val target = java.nio.file.Files.createTempDirectory("graft_wm_session").toString
    val agg = mem.toDF()
      .select(col("_1").as("user_id"), timestamp_micros(col("_2")).as("ts"))
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    val q = agg.writeStream.outputMode("append").format("parquet")
      .option("path", s"$target/out")
      .option("checkpointLocation", s"$target/ckpt")
      .start()
    // single-event sessions end at ts + 30min-gap. The sentinel user 99
    // pins max event time so the final watermark = max − 2h lands
    // EXACTLY on user 1's session end (base + 30min); users 2/3 end 1s
    // strictly below/above it as controls.
    mem.addData(Seq(
      (1L, base),
      (2L, base - 1000000L),
      (3L, base + 1000000L),
      (99L, base + MICROS_30M + 2 * MICROS_H)))
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.read.parquet(s"$target/out")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(emitted.contains(2L), "session strictly below the horizon must emit")
    assert(!emitted.contains(3L), "session strictly above the horizon must be held")
    assert(!emitted.contains(99L), "sentinel session is open — must be held")
    // THE boundary pin: q126's oracle uses end_us <= horizon
    assert(emitted.contains(1L),
      "session ending EXACTLY at the watermark must emit — q126 oracle encodes <=")
  }

  test("watermark boundary: click window expiring exactly at the horizon is held (strict <)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 86400L * 1000000L
    val memC = MemoryStream[(Long, Long)]
    val memP = MemoryStream[(Long, Long)]
    val clicks = memC.toDF()
      .select(col("_1").as("c_user"), timestamp_micros(col("_2")).as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = memP.toDF()
      .select(col("_1").as("p_user"), timestamp_micros(col("_2")).as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val target = java.nio.file.Files.createTempDirectory("graft_wm_louter").toString
    val q = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("c_user").as("user_id"), col("p_ts").isNotNull.as("matched"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", s"$target/out")
      .option("checkpointLocation", s"$target/ckpt")
      .start()
    // sentinels 90/91 pin BOTH sides' max event time so the global
    // watermark = min(maxC, maxP) − 1h lands EXACTLY on click 1's
    // match-window expiry (base + 30min); click 2 expires 1s strictly
    // below it (must emit unmatched), click 3 1s above (must be held).
    memC.addData(Seq(
      (1L, base),
      (2L, base - 1000000L),
      (3L, base + 1000000L),
      (90L, base + MICROS_30M + MICROS_H)))
    memP.addData(Seq((91L, base + MICROS_30M + MICROS_H)))
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.read.parquet(s"$target/out")
      .filter(!col("matched")).select("user_id").collect().map(_.getLong(0)).toSet
    assert(emitted.contains(2L), "click strictly below the horizon must emit unmatched")
    assert(!emitted.contains(3L), "click strictly above the horizon must be held")
    assert(!emitted.contains(90L), "sentinel click window is open — must be held")
    // THE boundary pin: q133/q151 oracles use expiry STRICTLY < horizon
    assert(!emitted.contains(1L),
      "click expiring EXACTLY at the watermark must be held — q133/q151 oracles encode strict <")
  }

  test("streaming near-dup: arrival-invariant, horizon-bounded, strict at the watermark boundary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = 86400L * 1000000L
    val M = 60L * 1000000L
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine"
    // identical texts share ALL 8 band signatures; horizon 30 min
    val rows = Seq(
      (1L, A, base),              // pairs with 2 (1 min apart)
      (2L, A, base + M),
      (3L, B, base + 2 * M),      // unrelated text: no pairs
      (4L, A, base + 60 * M),     // 59 min after 2: beyond the 30-min horizon
      (5L, A, base + 61 * M),     // pairs with 4 only
      (7L, A, base + 62 * M),     // lands EXACTLY on the final watermark → held (strict <)
      (6L, A, base + 63 * M),     // above the watermark → held
      (99L, "zz yy xx ww vv uu tt ss", base + 62 * M + 7200L * 1000000L)) // pins wm = base+62M
    def run(batches: Seq[Seq[(Long, String, Long)]]): Set[(Int, Long, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, Long)]
      val docs = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_micros(col("_3")).as("ts"))
      val target = java.nio.file.Files.createTempDirectory("graft_nd_stream").toString
      val q = graft.streaming.EventStreams
        .neardupCandidatesStream(docs, k = 3, numHashes = 32, bands = 8,
          horizonUs = 1800L * 1000000L)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$target/out")
        .option("checkpointLocation", s"$target/ckpt")
        .start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      val outDir = new java.io.File(s"$target/out")
      if (!Option(outDir.listFiles()).exists(_.exists(_.getName.endsWith(".parquet"))))
        Set.empty
      else spark.read.parquet(s"$target/out")
        .as[(Int, Long, Long)].collect().toSet
    }
    val expected = (0 until 8).flatMap(b =>
      Seq((b, 1L, 2L), (b, 4L, 5L))).toSet
    val oneBatch = run(Seq(rows))
    assert(oneBatch === expected,
      s"single batch: horizon pairs only; held docs (6, 7-at-boundary) emit nothing: $oneBatch")
    // out-of-order 3-batch split (every row on time w.r.t. the running
    // watermark) must produce the identical pair set
    val split = run(Seq(
      Seq(rows(1), rows(3)),                    // d2, d4
      Seq(rows(0), rows(4), rows(2)),           // d1, d5, d3
      Seq(rows(6), rows(5), rows(7))))          // d6, d7, sentinel
    assert(split === expected, s"arrival-invariance: $split")
  }

  test("streaming phash near-dup: chunk-bucket pairing is arrival-invariant and horizon-bounded") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = 86400L * 1000000L
    val M = 60L * 1000000L
    // hashes chosen so chunks either ALL collide (identical hash) or
    // NONE do (every 16-bit chunk distinct across hashes)
    val HA = 0x1111222233334444L
    val HB = 0x5555666677778888L
    val HC = 0x0099009900990099L
    val rows = Seq(
      (1L, HA, base),              // pairs with 2 in all 4 chunks
      (2L, HA, base + M),
      (3L, HB, base + 2 * M),      // no shared chunk: no pairs
      (4L, HA, base + 60 * M),     // 59 min after 2: beyond 30-min horizon
      (5L, HA, base + 61 * M),     // pairs with 4 only
      (7L, HA, base + 62 * M),     // EXACTLY at the final watermark: held
      (6L, HA, base + 63 * M),     // above the watermark: held
      (99L, HC, base + 62 * M + 7200L * 1000000L)) // pins wm = base+62M
    def run(batches: Seq[Seq[(Long, Long, Long)]]): Set[(Int, Long, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Long, Long)]
      val media = mem.toDF().select(col("_1").as("media_id"),
        col("_2").as("dhash"), timestamp_micros(col("_3")).as("ts"))
      val target = java.nio.file.Files.createTempDirectory("graft_phash_stream").toString
      val q = graft.streaming.EventStreams
        .phashCandidatesStream(media, horizonUs = 1800L * 1000000L)
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$target/out")
        .option("checkpointLocation", s"$target/ckpt")
        .start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      val outDir = new java.io.File(s"$target/out")
      if (!Option(outDir.listFiles()).exists(_.exists(_.getName.endsWith(".parquet"))))
        Set.empty
      else spark.read.parquet(s"$target/out")
        .as[(Int, Long, Long)].collect().toSet
    }
    val expected = (0 until 4).flatMap(b =>
      Seq((b, 1L, 2L), (b, 4L, 5L))).toSet
    val oneBatch = run(Seq(rows))
    assert(oneBatch === expected,
      s"single batch: horizon pairs only; held media (6, 7-at-boundary) emit nothing: $oneBatch")
    val split = run(Seq(
      Seq(rows(1), rows(3)),                    // m2, m4
      Seq(rows(0), rows(4), rows(2)),           // m1, m5, m3
      Seq(rows(6), rows(5), rows(7))))          // m6, m7, sentinel
    assert(split === expected, s"arrival-invariance: $split")
  }

  test("streaming near-dup equals batch LSH over the closed window (end-to-end)") {
    import spark.implicits._
    val streamed = graft.streaming.EventStreams.streamingNeardup(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    // batch twin: same banding kernel, same horizon/emission predicates
    // expressed on doc_id (ts = base + id minutes), same verification
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val maxId = d.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val banded = d.select(col("doc_id"),
        posexplode(graft.functions.TextHashFunctions
          .minhash_band_sigs(col("text"), 3, 32, 8)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")
    val cand = banded.select(col("doc_id").as("id_a"), col("band"), col("band_sig"))
      .join(banded.select(col("doc_id").as("id_b"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b") &&
        col("id_b") - col("id_a") <= 1440 &&
        col("id_b") < lit(maxId - 120))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = d.select(col("doc_id"), graft.functions.TextHashFunctions
      .shingle_hash_set(col("text"), 3).as("sh"))
    val batch = cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= lit(0.2))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(asc("id_a"), asc("id_b"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed === batch)
  }

  test("streaming upsert is batch-split invariant (out-of-order multi-batch replay)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // same 9 rows; key (1,"a") is updated in every batch, and the batch
    // order delivers its NEWEST event in the MIDDLE batch — event-time
    // resolution must still win over arrival order
    val rows = Seq(
      // (user_id, event_type, ts_micros, event_id, value)
      (1L, "a", 1000L, 1L, 1.0), (1L, "a", 5000L, 9L, 9.0), (1L, "a", 3000L, 5L, 5.0),
      (2L, "b", 2000L, 2L, 2.0), (2L, "b", 2000L, 7L, 7.0), // ts tie → event_id
      (3L, "c", 4000L, 3L, 3.0))
    def run(batches: Seq[Seq[(Long, String, Long, Long, Double)]]): Seq[(Long, String, Long, Double)] = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, Long, Long, Double)]
      val events = mem.toDF()
        .select(col("_1").as("user_id"), col("_2").as("event_type"),
          timestamp_micros(col("_3")).as("ts"), col("_4").as("event_id"),
          col("_5").as("value"))
      graft.streaming.EventStreams.upsertSinkDrain(events) { q =>
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      }.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    }
    val oneBatch = run(Seq(rows))
    val threeBatches = run(Seq(
      Seq(rows(0), rows(3)),           // old (1,a); (2,b) first tie row
      Seq(rows(1), rows(5)),           // NEWEST (1,a) arrives mid-stream
      Seq(rows(2), rows(4))))          // stale (1,a) + higher-id tie LAST
    assert(oneBatch === threeBatches)
    assert(oneBatch.toSet === Set(
      (1L, "a", 9L, 9.0),   // max ts wins despite arrival order
      (2L, "b", 7L, 7.0),   // ts tie → max event_id
      (3L, "c", 3L, 3.0)))
  }

  test("streaming as-of enrich: parity with batch argmax at the ms-floored " +
    "horizon; tail purchases held back") {
    val streamed = graft.streaming.EventStreams.streamingAsofEnrich(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val ev = graft.sources.Events.ev(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
    // Spark's watermark is ms-floored: ((max µs) div 1000 − 2h·1000)·1000
    val wmUs = (ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      / 1000L - 7200000L) * 1000L
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_ts_us"))
      .filter(col("p_ts_us") <= wmUs)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_ts_us"),
        col("event_id").as("c_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("p_id"), col("p_ts_us"))
      .orderBy(desc("c_ts_us"), desc("c_id"))
    // the as-of condition must live INSIDE the left join, or purchases
    // whose user has only LATER clicks vanish instead of going null
    val batch = p.join(c,
        col("user_id") === col("c_user") && col("c_ts_us") <= col("p_ts_us"),
        "left_outer")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("p_id"), col("p_ts_us"),
        coalesce(col("c_ts_us"), lit(-1L)).as("c_ts_us"),
        coalesce(col("p_ts_us") - col("c_ts_us"), lit(-1L)).as("gap_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "no purchases emitted")
    // hold-back is non-vacuous: purchases inside the final 2h exist
    // in the data but are NOT in the streamed output
    val held = ev.filter(col("event_type") === "purchase")
      .filter(unix_micros(col("ts")) > wmUs).count()
    assert(held > 0, "fixture has no tail purchases - hold-back untested")
    val emittedIds = streamed.map(_._2)
    val heldIds = ev.filter(col("event_type") === "purchase")
      .filter(unix_micros(col("ts")) > wmUs)
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(heldIds.intersect(emittedIds).isEmpty,
      "a held purchase leaked into the emitted set")
    // some emitted purchase actually matched a click (join non-vacuous)
    assert(streamed.exists(_._4 >= 0), "no purchase matched any click")
    assert(streamed.exists(_._4 == -1L) ||
      streamed.forall(_._4 >= 0)) // clickless path shape-checked
  }

  test("streaming as-of enrich is batch-split invariant (time-ordered multi-batch)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val H = 3600L * 1000000L // one hour in µs
    // user 1: click@1h, p@2h (→ click@1h), click@3h, p@10h (→ click@3h),
    // click@30h, p@31h (→ click@30h); user 2: p@5h with NO click;
    // closer@40h pushes the watermark to 38h so every purchase emits
    val rows = Seq(
      (1L, "click", 1 * H, 101L), (1L, "purchase", 2 * H, 201L),
      (1L, "click", 3 * H, 102L), (2L, "purchase", 5 * H, 301L),
      (1L, "purchase", 10 * H, 202L),
      (1L, "click", 30 * H, 103L), (1L, "purchase", 31 * H, 203L),
      (3L, "click", 40 * H, 401L))
    def run(batches: Seq[Seq[(Long, String, Long, Long)]]): Set[(Long, Long, Long, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String, Long, Long)]
      val events = mem.toDF()
        .select(col("_1").as("user_id"), col("_2").as("event_type"),
          timestamp_micros(col("_3")).as("ts"), col("_4").as("event_id"))
      import graft.streaming.EventStreams.{appendSinkDrain, asofEnrichStream}
      appendSinkDrain(asofEnrichStream(events), "graft_stream_asof_test") { q =>
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      }.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(3), r.getLong(4))).toSet
    }
    val expected = Set(
      (1L, 201L, 1 * H, 1 * H),      // p@2h ← click@1h, gap 1h
      (1L, 202L, 3 * H, 7 * H),      // p@10h ← click@3h, gap 7h
      (1L, 203L, 30 * H, 1 * H),     // p@31h ← click@30h, gap 1h
      (2L, 301L, -1L, -1L))          // clickless purchase: null path
    val oneBatch = run(Seq(rows))
    assert(oneBatch === expected)
    // three TIME-ORDERED batches: watermark advances between them,
    // early purchases emit mid-stream, the compacted click state must
    // still answer later purchases identically
    val threeBatches = run(Seq(rows.take(3), rows.slice(3, 5), rows.drop(5)))
    assert(threeBatches === expected)
  }

  test("streaming t-digest quantiles: closed windows only, brackets vs exact batch ranks") {
    val out = graft.streaming.EventStreams
      .streamingQuantilesBatchDriven(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // recompute closed weekly buckets + exact values from the batch side
    val week = 604800000000L
    val ev = graft.sources.Events.ev(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val horizon = ev.agg(max(col("us"))).collect()(0).getLong(0) - 7200000000L
    val rows = ev.select((col("us") - pmod(col("us"), lit(week))).as("ws"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val closed = rows.groupBy(r => (r._1, r._2))
      .filter { case ((ws, _), _) => ws + week <= horizon }
    // completeness: exactly 3 quantile rows per closed (window, type)
    assert(out.length === 3 * closed.size)
    // every estimate's exact rank within max(3, 2% n) of q·n
    out.foreach { case (wsTs, et, q, est) =>
      val ws = wsTs.toInstant.toEpochMilli * 1000L
      val vals = closed((ws, et)).map(_._3)
      val n = vals.length
      val tol = math.max(3.0, 0.02 * n)
      val below = vals.count(_ < est)
      val belowEq = vals.count(_ <= est)
      assert(below <= q * n + tol, s"($et, q=$q): below=$below n=$n")
      assert(belowEq >= q * n - tol, s"($et, q=$q): belowEq=$belowEq n=$n")
    }
  }

  test("streaming KMV distinct: exact per closed window, tail held back") {
    val out = graft.streaming.EventStreams
      .streamingDistinctBatchDriven(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toEpochMilli * 1000L, r.getLong(1)))
      .toMap
    assert(out.nonEmpty)
    val week = 604800000000L
    val ev = graft.sources.Events.ev(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
    val horizon = ev.agg(max(col("us"))).collect()(0).getLong(0) - 7200000000L
    val rows = ev.select((col("us") - pmod(col("us"), lit(week))).as("ws"),
        col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byWindow = rows.groupBy(_._1)
    val closed = byWindow.keySet.filter(ws => ws + week <= horizon)
    assert(closed.size < byWindow.size, "hold-back vacuous: all windows closed")
    assert(out.keySet === closed)
    // exact regime: distinct users per window well below k=4096
    closed.foreach { ws =>
      val exact = byWindow(ws).map(_._2).distinct.length.toLong
      assert(exact < 4096, s"fixture outgrew the exact regime: $exact users")
      assert(out(ws) === exact, s"window $ws")
    }
  }

  test("streaming heavy hitters: exact top-10 per closed window, tail held back") {
    val out = graft.streaming.EventStreams
      .streamingHeavyHittersBatchDriven(spark, sf)
      .collect()
      .map(r => (r.getTimestamp(0).toInstant.toEpochMilli * 1000L,
        r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    // batch truth: per closed weekly window, exact per-user counts
    val week = 604800000000L
    val ev = graft.sources.Events.ev(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("user_id"))
    val horizon = ev.agg(max(col("us"))).collect()(0).getLong(0) - 7200000000L
    val rows = ev.select((col("us") - pmod(col("us"), lit(week))).as("ws"),
        col("user_id").cast("string").as("u")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byWindow = rows.groupBy(_._1)
    val closed = byWindow.keySet.filter(ws => ws + week <= horizon)
    // hold-back is non-vacuous: at least one window stays open
    assert(closed.size < byWindow.size,
      s"all ${byWindow.size} windows closed - the watermark gate is vacuous")
    // completeness: exactly 10 rows per closed window and no other window
    assert(out.map(_._1).toSet === closed)
    assert(out.length === 10 * closed.size)
    // exact-regime MG: emitted (user, n) IS the true top-10 with the
    // (n desc, key-string asc) tie-break
    closed.foreach { ws =>
      val truth = byWindow(ws).groupBy(_._2).map { case (u, g) => (u, g.length.toLong) }
        .toSeq.sortBy { case (u, n) => (-n, u) }.take(10)
      val got = out.filter(_._1 == ws).map(r => (r._2, r._3)).toSeq
      assert(got.sortBy { case (u, n) => (-n, u) } === truth, s"window $ws")
    }
  }

  test("streaming drift monitor: closed windows only, chi2 equals batch replay") {
    val out = graft.streaming.EventStreams
      .streamingDriftBatchDriven(spark, sf)
      .collect()
      .map(r => ((r.getTimestamp(0).toInstant.toEpochMilli * 1000L,
        r.getString(1)), (r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out.nonEmpty)
    val week = 604800000000L
    val ev = graft.sources.Events.ev(spark, sf)
      .select(unix_micros(col("ts")).as("us"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val horizon = ev.map(_._1).max - 7200000000L
    val byWindow = ev.map { case (us, t) => (us - us % week, t) }.groupBy(_._1)
    val closed = byWindow.keySet.filter(ws => ws + week <= horizon)
    assert(closed.size < byWindow.size, "hold-back vacuous: all windows closed")
    assert(out.keySet.map(_._1) === closed)
    // frozen reference profile over ALL events (open windows included)
    val refN = ev.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val refT = ev.size.toLong
    closed.foreach { ws =>
      val counts = byWindow(ws).groupBy(_._2).view.mapValues(_.size.toLong)
      val tot = byWindow(ws).size.toLong
      counts.foreach { case (t, n) =>
        val e = tot.toDouble * refN(t) / refT
        val want = BigDecimal((n - e) * (n - e) / e)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val (gn, grn, gchi) = out((ws, t))
        assert(gn === n && grn === refN(t), s"window $ws type $t")
        assert(math.abs(gchi - want) < 1e-9, s"window $ws type $t chi2")
      }
    }
  }

  test("streaming quota: event-time order, same-ts id tie-break, arrival invariance") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = 86400L * 1000000L
    val M = 60L * 1000000L
    // (user_id, ts_us, event_id, value); budget 5.0 units = 5e6 micro
    val rows = Seq(
      (1L, base, 11L, 2.0),
      (1L, base + M, 12L, 2.0),
      (1L, base + 2 * M, 10L, 1.0),  // same ts as id 13, LOWER id → folds first
      (1L, base + 2 * M, 13L, 2.0),
      (2L, base + M / 2, 20L, 9.5),  // single event blows the budget alone
      (99L, base + 2 * M + 7200L * 1000000L + M, 999L, 0.1)) // pins wm above all
    def run(batches: Seq[Seq[(Long, Long, Long, Double)]]) = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Long, Long, Double)]
      val ev = mem.toDF().select(col("_1").as("user_id"),
        timestamp_micros(col("_2")).as("ts"), col("_3").as("event_id"),
        col("_4").as("value"))
      import graft.streaming.EventStreams.{appendSinkDrain, quotaFlagStream}
      appendSinkDrain(quotaFlagStream(ev, budgetFx = 5000000L), "graft_stream_quota_test") { q =>
        batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      }.as[(Long, Long, Long, Long, Long, Long, Boolean)].collect().toSet
    }
    val expected = Set(
      (1L, 1L, 11L, base, 2000000L, 2000000L, false),
      (1L, 2L, 12L, base + M, 2000000L, 4000000L, false),
      // run == budget is NOT over (strict >): the boundary case
      (1L, 3L, 10L, base + 2 * M, 1000000L, 5000000L, false),
      (1L, 4L, 13L, base + 2 * M, 2000000L, 7000000L, true),
      (2L, 1L, 20L, base + M / 2, 9500000L, 9500000L, true))
    val oneBatch = run(Seq(rows))
    assert(oneBatch === expected,
      s"single batch (sentinel held back, ties fold id-ascending): $oneBatch")
    // out-of-order 3-batch split, every row on time w.r.t. the running
    // watermark — identical adjudication
    val split = run(Seq(
      Seq(rows(1), rows(3)),           // 12, 13
      Seq(rows(0), rows(2), rows(4)),  // 11, 10 (tie partner), 20
      Seq(rows(5))))                   // sentinel
    assert(split === expected, s"arrival-invariance: $split")
  }

  test("appendSinkDrain: an empty stream drains to the schema a non-empty one reads back") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // non-nullable fields at the top level (id) and nested (kv): the
    // empty frame must carry the read-back's nullability, not just its types
    def drain(rows: Seq[(Long, String)], prefix: String) = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("id"), col("_2").as("tag"),
        array(struct(col("_1").as("k"), lit(1.5).as("v"))).as("kv"))
      graft.streaming.EventStreams.appendSinkDrain(stream, prefix) { q =>
        if (rows.nonEmpty) mem.addData(rows)
        q.processAllAvailable()
      }
    }
    val empty = drain(Nil, "graft_spec_append_empty")
    val full = drain(Seq((1L, "a"), (2L, "b")), "graft_spec_append_full")
    assert(empty.count() === 0L)
    assert(full.count() === 2L)
    assert(empty.schema === full.schema)
  }

  test("versionedSinkDrain: an empty stream drains to the schema a non-empty one " +
    "reads back (batch, key-upsert and latest-per-key merges)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    import graft.streaming.EventStreams.{upsertSinkDrain, versionedSinkDrain}
    val rows = Seq((1L, "a", 1000L, 1L, 1.0), (2L, "b", 2000L, 2L, 2.0))
    // each drain kind, fed `data` (empty: no batch ever runs)
    val drains: Seq[(String, (DataFrame, String) => DataFrame)] = Seq(
      "batch" -> { (events, prefix) =>
        versionedSinkDrain(events.groupBy(col("user_id")).agg(count(lit(1)).as("n")),
          prefix, OutputMode.Complete())((batch, _) => batch)() },
      "key upsert" -> { (events, prefix) =>
        versionedSinkDrain(events.groupBy(col("user_id")).agg(count(lit(1)).as("n")),
          prefix, OutputMode.Update()) { (batch, base) =>
          base.fold(batch)(_.join(batch, Seq("user_id"), "left_anti").unionByName(batch))
        }() },
      "latest per key" -> { (events, _) => upsertSinkDrain(events)() })
    drains.foreach { case (kind, drain) =>
      def run(data: Seq[(Long, String, Long, Long, Double)], prefix: String) = {
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[(Long, String, Long, Long, Double)]
        if (data.nonEmpty) mem.addData(data)
        drain(mem.toDF().select(col("_1").as("user_id"), col("_2").as("event_type"),
          timestamp_micros(col("_3")).as("ts"), col("_4").as("event_id"),
          col("_5").as("value")), prefix)
      }
      val empty = run(Nil, "graft_spec_versioned_empty")
      assert(empty.count() === 0L, kind)
      val full = run(rows, "graft_spec_versioned_full")
      assert(full.count() === 2L, kind)
      assert(empty.schema === full.schema, kind)
    }
  }

  test("q214 streams a Spark-written documents.parquet/ directory like the single file") {
    val dirLayout = graft.util.TempDirs.scratch("graft_spec_documents_dir")
    spark.read.parquet(s"$sf/documents.parquet").repartition(3)
      .write.parquet(s"$dirLayout/documents.parquet")
    val fromFile = graft.streaming.EventStreams.streamingNeardup(spark, sf).collect().toSeq
    assert(fromFile.nonEmpty, "no near-dup pairs in the fixture - the layout check is vacuous")
    val fromDir = graft.streaming.EventStreams.streamingNeardup(spark, dirLayout)
      .collect().toSeq
    assert(fromDir === fromFile)
  }
}
