package graft

import org.apache.spark.sql.functions._
import graft.queries.EventOps
import graft.streaming.StreamingOps

/** Streaming batch-equivalence inside Spark (SURVEY.md §5 item 4): the
  * replayed streaming results must equal their H-verified batch twins. */
class StreamingSpec extends SparkSpec {

  test("q38 tumbling windows equal the batch hourly buckets") {
    val streamRows = StreamingOps.q38(spark, sf).collect().toSeq
    val batchRows = EventOps.queries("q35_hourly_buckets")(spark, sf).collect().toSeq
    assert(streamRows == batchRows)
  }

  test("q40 session windows equal the batch sessionization counts") {
    val streamRows = StreamingOps.q40(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchRows = EventOps.queries("q34_sessionization")(spark, sf)
      .select("user_id", "n_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamRows == batchRows)
  }

  test("foreachBatch sink equals the batch per-type counts") {
    val streamRows = StreamingOps.qForeachBatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batchRows = graft.core.Tables.t(spark, sf, "events")
      .groupBy("event_type").count().orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamRows == batchRows)
  }

  test("RocksDB matrix: every stateful query is provider-equivalent under the scale tier") {
    // HDFS-backed state (the default) holds every key in executor heap —
    // fine at spec scale, an OOM at 100 TB streaming state. RocksDB is
    // the provider a production deployment runs; a wrong provider class
    // fails query startup (no silent fallback), so green here proves the
    // state of EVERY stateful query — windowed/sliding/session aggs,
    // dedup, arbitrary flatMapGroupsWithState, update-mode agg,
    // watermark eviction, and the inner and all three outer stream-stream
    // join state layouts — really lived in RocksDB. Equivalence target is the default-provider
    // run of the same query: the batch twins and the sf0.01 oracle gate
    // already pin that side, so provider-equivalence transfers the full
    // correctness argument to the scale tier. (q_stream_tws/_tws_map are
    // RocksDB-only by API and covered below.)
    val stateful = Seq(
      "q38_stream_tumbling", "q39_stream_sliding", "q40_stream_session",
      "q41_stream_dedup", "q42_stream_stateful", "q_stream_update",
      "q_stream_late_drop", "q_stream_stream_join", "q_stream_join_left",
      "q_stream_join_right", "q_stream_join_full")
    val key = "spark.sql.streaming.stateStore.providerClass"
    stateful.foreach { name =>
      val dflt = StreamingOps.queries(name)(spark, sf)
        .collect().map(_.toString).toSeq
      val before = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks =
        try StreamingOps.queries(name)(spark, sf).collect().map(_.toString).toSeq
        finally before match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      assert(rocks == dflt, s"$name differs under the RocksDB provider")
    }
  }

  test("update mode re-emits changed aggregates; final state equals the batch twin") {
    val finalState = StreamingOps.qStreamUpdate(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batchRows = graft.core.Tables.t(spark, sf, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        graft.core.Tables.money(sum(graft.core.Tables.dec(col("value")))).as("sum_value"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(finalState == batchRows)
    // Genuinely update-mode: the sink holds a TRAJECTORY of per-key
    // updates (one row per changed group per micro-batch), not one row
    // per key (append/complete-final would). Six chunks touching every
    // event type ⇒ strictly more sink rows than keys.
    val sink = spark.table("q_update_sink")
    val keys = finalState.size.toLong
    assert(sink.count() > keys,
      s"sink has ${sink.count()} rows for $keys keys — no update trajectory")
    // Counts per key are strictly increasing across updates (each
    // re-emission reflects newly arrived rows), so max_by is well-defined.
    val dupCnt = sink.groupBy("event_type", "cnt").count()
      .filter(col("count") > 1).count()
    assert(dupCnt == 0, "duplicate (key, cnt) updates — count did not strictly grow")
  }

  test("stream-stream interval join equals the batch self-join") {
    val streamRows = StreamingOps.qStreamStreamJoin(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = graft.core.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val batchRows = ev.toDF("lid", "luser", "lts")
      .join(ev.toDF("rid", "ruser", "rts"),
        col("luser") === col("ruser") && col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES") &&
        col("lid") < col("rid"))
      .select("lid", "rid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamRows == batchRows)
  }

  test("left-outer stream-stream join emits watermark-finalized null partners") {
    val out = StreamingOps.qStreamStreamLeft(spark, sf).collect()
    val outer = out.filter(_.isNullAt(1))
    assert(outer.nonEmpty, "outer path never exercised — no null partners")
    val streamRows = out
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val ev = graft.core.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cutoff = ev.agg(max(unix_micros(col("ts")))).head().getLong(0) -
      36L * 60L * 1000000L
    val batchRows = ev.toDF("lid", "luser", "lts")
      .join(ev.toDF("rid", "ruser", "rts"),
        col("luser") === col("ruser") && col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES") &&
        col("lid") < col("rid"),
        "leftOuter")
      .filter(unix_micros(col("lts")) <= cutoff)
      .select("lid", "rid")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(streamRows == batchRows)
  }

  test("right-outer stream-stream join emits watermark-finalized null partners") {
    val out = StreamingOps.qStreamStreamRight(spark, sf).collect()
    val outer = out.filter(_.isNullAt(0))
    assert(outer.nonEmpty, "outer path never exercised — no null partners")
    val streamRows = out
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet
    val ev = graft.core.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cutoff = ev.agg(max(unix_micros(col("ts")))).head().getLong(0) -
      36L * 60L * 1000000L
    val batchRows = ev.toDF("lid", "luser", "lts")
      .join(ev.toDF("rid", "ruser", "rts"),
        col("luser") === col("ruser") && col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES") &&
        col("lid") < col("rid"),
        "rightOuter")
      .filter(unix_micros(col("rts")) <= cutoff)
      .select("lid", "rid")
      .collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet
    assert(streamRows == batchRows)
  }

  test("full-outer stream-stream join emits null partners on BOTH sides") {
    val out = StreamingOps.qStreamStreamFull(spark, sf).collect()
    assert(out.exists(_.isNullAt(1)), "left-outer path never exercised")
    assert(out.exists(_.isNullAt(0)), "right-outer path never exercised")
    val streamRows = out.map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val ev = graft.core.Tables.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cutoff = ev.agg(max(unix_micros(col("ts")))).head().getLong(0) -
      36L * 60L * 1000000L
    val batchRows = ev.toDF("lid", "luser", "lts")
      .join(ev.toDF("rid", "ruser", "rts"),
        col("luser") === col("ruser") && col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES") &&
        col("lid") < col("rid"),
        "fullOuter")
      .filter((col("lts").isNull || unix_micros(col("lts")) <= cutoff) &&
        (col("rts").isNull || unix_micros(col("rts")) <= cutoff))
      .select("lid", "rid")
      .collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(streamRows == batchRows)
  }

  test("foreachBatch MERGE upsert equals the batch group-by; replayed batch is a no-op") {
    val got = StreamingOps.qStreamUpsert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    val exp = graft.core.Tables.t(spark, sf, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"),
        graft.core.Tables.money(sum(graft.core.Tables.dec(col("value"))))
          .as("sum_value"))
      .orderBy("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == exp, "streamed MERGE state differs from the batch twin")
    // Idempotence guard: re-applying an already-applied batchId must not
    // double-count (the retry/replay path of a non-transactional sink).
    val dirX = graft.core.TempDirs.create("graft-upsert-idem")
    val ev = graft.core.Tables.t(spark, sf, "events").limit(500)
    def snapshot(): Seq[(Long, String, Long, java.math.BigDecimal)] = {
      val applied = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dirX, "MANIFEST")), "UTF-8").trim
      spark.read.parquet(s"$dirX/v$applied").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDecimal(3))).sortBy(t => (t._1, t._2)).toSeq
    }
    StreamingOps.mergeBatch(spark, dirX, ev, 0L)
    val after0 = snapshot()
    StreamingOps.mergeBatch(spark, dirX, ev, 0L) // retry of batch 0
    assert(snapshot() == after0, "replayed batch was double-applied")
    StreamingOps.mergeBatch(spark, dirX, ev, 1L) // a real new batch lands
    assert(snapshot().map(_._3).sum == 2 * after0.map(_._3).sum)
  }

  test("append mode drops the late chunk at the watermark — counted, not declared") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val chunks = StreamingOps.prepareChunks(spark, sf, dupCount = 100)
    val agg = StreamingOps.replay(spark, chunks)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("late_drop_probe")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // The final chunk replays the first 100 events — all weeks older than
    // the watermark by then, so EVERY late group must be dropped. The
    // watermark filter sits above the partial aggregation, so the metric
    // counts dropped (window, event_type) partial-agg groups, not raw
    // rows: expected = distinct groups among the replayed events.
    val dropped = q.recentProgress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark).sum
    val expected = graft.core.Tables.t(spark, sf, "events")
      .orderBy("ts", "event_id").limit(100)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .distinct().count()
    assert(expected > 0, "fixture must contain genuinely late rows")
    // >= not ==: the metric's unit depends on where Spark plans the
    // watermark filter. With partial aggregation below it (current plan)
    // it counts distinct dropped (window, event_type) groups = expected;
    // a plan without map-side combine would count the 100 raw late rows.
    // Either way eviction happened — the emitted-vs-batch exceptAll below
    // is the real correctness gate.
    assert(dropped >= expected && dropped <= 100,
      s"expected $expected..100 late rows/groups dropped by the watermark, got $dropped")
    // And the emitted (append-mode) windows carry no late double-counts:
    // they equal the batch aggregation over the ORIGINAL events for every
    // window old enough to have closed.
    val emitted = spark.table("late_drop_probe")
      .select(graft.core.Tables.tsStr(col("window.start")).as("hour_start"),
        col("event_type"), col("cnt"))
    val batch = graft.core.Tables.t(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(graft.core.Tables.tsStr(col("h")).as("hour_start"),
        col("event_type"), col("cnt"))
    assert(emitted.count() > 0, "no windows emitted — watermark never closed any window")
    assert(emitted.exceptAll(batch).count() == 0,
      "append-mode emitted a window that disagrees with the batch twin (late rows merged?)")
  }

  test("parquet file sink is exactly-once across a checkpoint-replayed drain") {
    // The query itself drains the same chunks twice through one
    // checkpoint; the result must equal the batch aggregation over
    // closed windows exactly ONCE — a sink without the commit log +
    // checkpoint contract would double every row on the second drain.
    val out = StreamingOps.queries("q_stream_file_sink")(spark, sf)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty, "file sink emitted nothing")
    assert(rows.distinct.length == rows.length,
      "duplicate (window, type) rows — second drain re-emitted (not exactly-once)")
    val cutoff = graft.core.Tables.t(spark, sf, "events")
      .agg(max(unix_micros(col("ts")))).head().getLong(0) - 30L * 60L * 1000000L
    val batch = graft.core.Tables.t(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .filter(unix_micros(col("h")) + 3600L * 1000000L <= cutoff)
      .select(graft.core.Tables.tsStr(col("h")).as("hour_start"),
        col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSet == batch.toSet,
      "file-sink contents differ from the closed-window batch twin")
  }

  test("windowed state survives a query RESTART via the checkpoint (two-wave arrival)") {
    // The recovery contract a 100 TB streaming job actually depends on:
    // a query stops, more data lands, a NEW query starts from the same
    // checkpoint — partial window state crossing the stop boundary must
    // be restored, not recomputed or dropped. Waves split the chunk
    // files 3+3; the hour window straddling the wave boundary only gets
    // its full count if wave-2's query resumed wave-1's state.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val allChunks = StreamingOps.prepareChunks(spark, sf)
    val stage = graft.core.TempDirs.create("graft-restart-src")
    val out = graft.core.TempDirs.create("graft-restart-out")
    val files = new java.io.File(allChunks).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 6)
    def land(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      val tgt = java.nio.file.Paths.get(stage, f.getName)
      java.nio.file.Files.copy(f.toPath, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // Keep the chunk-sequence mtimes: the file source replays in
      // mtime order, and a copy-time mtime tie could reorder chunks and
      // watermark-drop genuinely on-time rows.
      java.nio.file.Files.setLastModifiedTime(tgt,
        java.nio.file.Files.getLastModifiedTime(f.toPath))
    }
    def drain(): Unit = {
      val q = StreamingOps.replay(spark, stage)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(graft.core.Tables.tsStr(col("window.start")).as("hour_start"),
          col("event_type"), col("cnt"))
        .writeStream.format("parquet")
        .option("path", s"$out/data").option("checkpointLocation", s"$out/chk")
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    land(files.take(3)); drain()
    val wave1 = spark.read.parquet(s"$out/data").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(wave1.nonEmpty, "wave 1 closed no windows")
    land(files.drop(3).toSeq); drain()
    val fin = spark.read.parquet(s"$out/data").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(wave1.subsetOf(fin), "append sink rewrote wave-1 output")
    assert(fin.size > wave1.size, "wave 2 closed no further windows")
    val cutoff = graft.core.Tables.t(spark, sf, "events")
      .agg(max(unix_micros(col("ts")))).head().getLong(0) - 30L * 60L * 1000000L
    val batch = graft.core.Tables.t(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .filter(unix_micros(col("h")) + 3600L * 1000000L <= cutoff)
      .select(graft.core.Tables.tsStr(col("h")).as("hour_start"),
        col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(fin == batch,
      "restarted query's closed windows differ from the batch twin — " +
        "state was lost or double-counted across the restart")
  }

  test("q41 dedup collapses replayed duplicates to the distinct count") {
    val row = StreamingOps.q41(spark, sf).collect().head
    assert(row.getLong(0) == row.getLong(1),
      "emitted rows must equal distinct event ids (duplicates dropped)")
  }

  test("transformWithState equals the batch twin and restores the provider conf") {
    // The Spark-4 StatefulProcessor API refuses to start on the default
    // HDFS-backed provider, so green here proves the per-key state lived
    // in RocksDB; the query sets that conf itself and must hand the
    // session back unchanged.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    val streamRows = StreamingOps.queries("q_stream_tws")(spark, sf).collect().toSeq
    assert(spark.conf.getOption(key) == before, "provider conf must be restored")
    val batchRows = graft.core.Tables.t(spark, sf, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
      .orderBy("user_id").collect().toSeq
    assert(streamRows == batchRows)
  }

  test("streaming interval union equals the batch q_interval_merge twin") {
    // The 4-long ValueState must reproduce the batch gaps-and-islands
    // result exactly — including blocks that straddle micro-batch
    // boundaries (6 chunks cut every user's sequence mid-stream). The
    // Update-trajectory max recovers the final state because both
    // emitted columns are monotone in event order.
    val streamRows =
      StreamingOps.queries("q_stream_interval_merge")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batchRows = graft.queries.EventOps.queries("q_interval_merge")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamRows == batchRows)
    assert(streamRows.exists(_._2 > 1), "fixture should produce split blocks")
  }

  test("streaming TWA equals the batch q_time_weighted_avg twin") {
    // Four-long state (last ts, last value, Σv·gap, Σgap); users whose
    // observed span is still zero emit nothing — matching the batch
    // single-event exclusion. max_by(num, den) over the Update
    // trajectory is exact because the span only grows.
    val streamRows = StreamingOps.queries("q_stream_twa")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val batchRows =
      graft.queries.EventOps.queries("q_time_weighted_avg")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(streamRows == batchRows)
  }

  test("transformWithState MapState counts equal the batch per-type group-by") {
    val streamRows = StreamingOps.queries("q_stream_tws_map")(spark, sf)
      .collect().toSeq
    val batchRows = graft.core.Tables.t(spark, sf, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(streamRows == batchRows)
  }
}
