package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger,
  ValueState}
import org.apache.spark.sql.types._
import graft.core.Tables

/** Structured Streaming operators (SURVEY.md §2B Q38–Q42), each the
  * streaming twin of an H-verified batch query. The harness replays
  * `events.parquet` as a timestamp-ordered file stream (FIXTURES.md §C):
  * chunks are written sequentially so the file source's modification-time
  * order matches event time, and [[runToEnd]] drains the stream into a
  * final table the DuckDB oracle compare can hash.
  *
  * Windowed aggregations run in `complete` output mode so windows still
  * open at end-of-stream are emitted — required for exact equality with
  * the batch twin. Watermarks are still declared: they are the
  * state-eviction contract a production (non-replay) deployment relies
  * on; complete mode simply retains closed windows too.
  */
object StreamingOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** A prepared replay: its chunk dir and the outer-join comparison
    * cutoff, max(ts) over the replayed events minus 36 min (the 30-min
    * outer-join watermark + the 5-min interval + a 1-min strictness
    * margin), in µs. Rows whose join horizon lies past the cutoff may
    * still be pending when the drain stops, so the outer joins compare
    * only rows at or before it. Both come from one fixture build, so the
    * cutoff always belongs to the replay it windows. */
  private case class Replay(dir: String, cutoffUs: Long)

  // One replay per (source dir, dupCount) per JVM, shared by every
  // streaming query over that dir. An evicted or swept entry rebuilds.
  private val chunkCache = new graft.core.BoundedMemo[(String, Int), Replay]()

  private def fixture(s: SparkSession, dir: String, nChunks: Int = 6,
      dupCount: Int = 0): Replay =
    // Revalidate: a TempDirs.cleanupAll() in the same JVM may have swept
    // the cached dir; rebuild instead of handing out a dangling path.
    chunkCache.getOrRebuild((dir, dupCount))(r => Files.exists(Paths.get(r.dir))) {
      buildChunks(s, dir, nChunks, dupCount)
    }

  /** Write `events` as nChunks timestamp-ordered parquet files into a
    * cached temp dir; optionally re-append the first `dupCount` events at
    * the end (late duplicates for the dedup query). Returns the dir. */
  def prepareChunks(s: SparkSession, dir: String, nChunks: Int = 6,
      dupCount: Int = 0): String =
    fixture(s, dir, nChunks, dupCount).dir

  private def buildChunks(s: SparkSession, dir: String, nChunks: Int,
      dupCount: Int): Replay = {
    val streamDir = graft.core.TempDirs.create("graft-stream")
    val ev = Tables.t(s, dir, "events")
    val stats = ev.agg(count(lit(1)), max(unix_micros(col("ts")))).head()
    val n = stats.getLong(0)
    // The late duplicates copy the earliest events, so max(ts) over
    // `events` is max(ts) over the replay.
    val cutoffUs =
      if (stats.isNullAt(1)) Long.MinValue else stats.getLong(1) - 36L * 60L * 1000000L
    val perChunk = math.max(1, math.ceil(n.toDouble / nChunks).toLong)
    // Distributed global rank, so no single task holds the whole events
    // table (an orderBy.coalesce(1) needed a 48 GiB driver at sf10, for
    // fixture prep): range-partition + sort within partitions (Spark's
    // own total-sort shape, every partition a bounded slice), then
    // zipWithIndex, whose cumulative per-partition offsets reproduce the
    // exact global (ts, event_id) rank regardless of where the sampled
    // range boundaries fall — event_id is unique, so the order is total
    // and the chunk assignment stays deterministic across runs.
    val sortParts = math.max(s.sparkContext.defaultParallelism,
      (n / 2000000L).toInt + 1)
    val sorted = ev
      .repartitionByRange(sortParts, col("ts"), col("event_id"))
      .sortWithinPartitions("ts", "event_id")
    val indexedRdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    val indexedSchema = sorted.schema.add(StructField("rn", LongType, false))
    // Stage the ranked table ONCE: the per-chunk writes below then read
    // a filtered slice each instead of re-running the sort+zip pipeline
    // per chunk.
    val indexed = graft.core.Materialize(
      s.createDataFrame(indexedRdd, indexedSchema), "ranked")
    (0 until nChunks).foreach { i =>
      val chunk = indexed
        .filter(col("rn") >= i * perChunk && col("rn") < (i + 1) * perChunk)
        .sort("rn").drop("rn")
      writeChunk(chunk, streamDir, s"chunk_$i", i)
    }
    if (dupCount > 0) {
      val dups = indexed.filter(col("rn") < dupCount).sort("rn").drop("rn")
      writeChunk(dups, streamDir, s"chunk_dup", nChunks)
    }
    Replay(streamDir, cutoffUs)
  }

  private def writeChunk(df: DataFrame, streamDir: String, name: String,
      seq: Int): Unit = {
    val stage = graft.core.TempDirs.create("graft-chunk")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written in $stage"))
    val target = Paths.get(streamDir, s"$name.parquet")
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    // The file source replays in modification-time order; pin mtimes to
    // the chunk sequence explicitly instead of relying on each write
    // taking longer than the filesystem timestamp resolution.
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + seq * 60000L))
  }

  /** File-source replay of a prepared chunk dir. */
  def replay(s: SparkSession, streamDir: String): DataFrame =
    s.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)

  /** Run a stream over everything its source holds at start, then stop.
    * Every streaming query here starts and ends in this call, whatever its
    * sink, so a change to per-micro-batch cost is made once. */
  def runToEnd(writer: DataStreamWriter[Row]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Drain a streaming frame into a memory sink and return the final table. */
  def drain(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    runToEnd(df.writeStream.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  // ---- Q38: tumbling 1h window + watermark (batch twin: q35) ----
  private[graft] def q38Stream(s: SparkSession, dir: String): DataFrame =
    replay(s, prepareChunks(s, dir))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Tables.money(sum(Tables.dec(col("value")))).as("sum_value"))

  def q38(s: SparkSession, dir: String): DataFrame = {
    val out = drain(q38Stream(s, dir), "q38_sink", OutputMode.Complete())
    out.select(Tables.tsStr(col("window.start")).as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  // ---- Q39: sliding 1h window every 15 min ----
  def q39(s: SparkSession, dir: String): DataFrame = {
    val out = drain(
      replay(s, prepareChunks(s, dir))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt")),
      "q39_sink", OutputMode.Complete())
    out.select(Tables.tsStr(col("window.start")).as("window_start"),
        col("event_type"), col("cnt"))
      .orderBy("window_start", "event_type")
  }

  // ---- Q40: session windows, 30-min gap (batch twin: q34 session count) ----
  def q40(s: SparkSession, dir: String): DataFrame = {
    val out = drain(
      replay(s, prepareChunks(s, dir))
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events")),
      "q40_sink", OutputMode.Complete())
    out.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("user_id")
  }

  // ---- Q41: streaming dedup within watermark (late duplicate replay) ----
  private[graft] def q41Stream(s: SparkSession, dir: String): DataFrame =
    replay(s, prepareChunks(s, dir, dupCount = 100))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  def q41(s: SparkSession, dir: String): DataFrame = {
    val out = drain(q41Stream(s, dir), "q41_sink", OutputMode.Append())
    out.agg(count(lit(1)).as("n_unique"),
      countDistinct(col("event_id")).as("n_distinct_check"))
  }

  // ---- Q42: arbitrary stateful op — running per-user count ----
  def q42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updateCount = (userId: Long, events: Iterator[Event], state: GroupState[Long]) => {
      val newCount = state.getOption.getOrElse(0L) + events.size
      state.update(newCount)
      Iterator((userId, newCount))
    }
    val stream = replay(s, prepareChunks(s, dir)).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateCount)
      .toDF("user_id", "running_count")
    val out = drain(stream, "q42_sink", OutputMode.Update())
    // Final state per user = max running count (memory sink keeps each update).
    out.groupBy("user_id").agg(max("running_count").as("n_events"))
      .orderBy("user_id")
  }

  // ---- Spark-4 arbitrary state: transformWithState + StatefulProcessor.
  // The successor API to flatMapGroupsWithState (q42): typed per-key
  // state handles (ValueState/ListState/MapState) with TTL and timer
  // support, and it REQUIRES the RocksDB state store provider — the
  // scale-tier store where state lives off-heap instead of in executor
  // memory, which is the point at 100 TB streaming state. ----

  /** transformWithState refuses any provider but RocksDB; set it for the
    * duration of the query and hand the session conf back unchanged. */
  private def withRocksDb[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally before match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Replay `dir` through `processor`, keyed by user, and drain its
    * Update-mode output into the memory sink `sink` with columns `cols`.
    * The sink holds each key's emission trajectory, not one row per key.
    * Every processor here emits a measure that only grows (a count or an
    * observed span), so a query recovers each key's final state from the
    * emission where that measure is largest. */
  private def perUser[T <: Product : TypeTag](s: SparkSession, dir: String,
      processor: StatefulProcessor[Long, Event, T], sink: String,
      cols: String*): DataFrame = withRocksDb(s) {
    import s.implicits._
    val stream = replay(s, prepareChunks(s, dir)).as[Event]
      .groupByKey(_.user_id)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update)
      .toDF(cols: _*)
    drain(stream, sink, OutputMode.Update())
  }

  /** Epoch microseconds of a timestamp, exact for pre-1970 instants too. */
  private def us(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Encoder of the per-user state the interval union and TWA carry. */
  private def fourLongs: Encoder[(Long, Long, Long, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)

  // Running (count, max value) per user.
  private class UserRunningStats
      extends StatefulProcessor[Long, Event, (Long, Long, Double)] {
    @transient private var st: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("stats",
        Encoders.product[(Long, Double)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[(Long, Long, Double)] = {
      var (c, m) =
        if (st.exists()) st.get() else (0L, Double.NegativeInfinity)
      rows.foreach { e => c += 1; m = math.max(m, e.value) }
      st.update((c, m))
      Iterator((key, c, m))
    }
  }

  def qStreamTws(s: SparkSession, dir: String): DataFrame =
    perUser(s, dir, new UserRunningStats, "q_tws_sink",
        "user_id", "n_events", "max_value")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("max_value").as("max_value"))
      .orderBy("user_id")

  // ---- MapState variant: per-user map of event_type → running count.
  // The typed map lives as individual (grouping key, user key) entries in
  // RocksDB — updating one event type does NOT rewrite the user's whole
  // state blob, which is the difference that matters when per-key state
  // is wide (the GroupState/ValueState shape rewrites everything every
  // batch). Only types touched in a batch are re-emitted. ----
  private class UserTypeCounts
      extends StatefulProcessor[Long, Event, (Long, String, Long)] {
    @transient private var m: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      m = getHandle.getMapState[String, Long]("type_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val c = if (m.containsKey(e.event_type)) m.getValue(e.event_type) else 0L
        m.updateValue(e.event_type, c + 1)
        touched += e.event_type
      }
      touched.iterator.map(t => (key, t, m.getValue(t)))
    }
  }

  def qStreamTwsMap(s: SparkSession, dir: String): DataFrame =
    perUser(s, dir, new UserTypeCounts, "q_tws_map_sink",
        "user_id", "event_type", "cnt")
      .groupBy("user_id", "event_type")
      .agg(max("cnt").as("cnt"))
      .orderBy("user_id", "event_type")

  // ---- Streaming interval union: the stateful twin of the batch
  // q_interval_merge. Per user, ValueState carries (closed-block count,
  // closed-covered µs, open-block start, open-block end); each batch's
  // rows are sorted by (ts, event_id) inside the handler (the iterator
  // order within a micro-batch is not guaranteed), and cross-batch order
  // is supplied by the ts-ordered chunk replay. The emitted running
  // total (blocks, covered-including-open-block) is monotone. State is
  // 4 longs per user regardless of event volume: the 100 TB property
  // that makes interval union streamable. ----
  private class UserIntervalUnion
      extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    private val HoldUs = 600L * 1000000L
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("iv", fourLongs, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (closed, covered, b0, b1) =
        if (st.exists()) st.get() else (0L, 0L, Long.MinValue, Long.MinValue)
      rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
        val s0 = us(e.ts)
        if (b1 == Long.MinValue) { b0 = s0; b1 = s0 + HoldUs }
        else if (s0 > b1) { closed += 1; covered += b1 - b0; b0 = s0; b1 = s0 + HoldUs }
        else b1 = math.max(b1, s0 + HoldUs)
      }
      st.update((closed, covered, b0, b1))
      Iterator((key, closed + 1, covered + (b1 - b0)))
    }
  }

  def qStreamIntervalMerge(s: SparkSession, dir: String): DataFrame =
    perUser(s, dir, new UserIntervalUnion, "q_interval_sink",
        "user_id", "n_blocks", "covered_us")
      .groupBy("user_id")
      .agg(max("n_blocks").as("n_blocks"),
        round(max("covered_us").cast("double") / 1000000d, 6).as("covered_s"))
      .orderBy("user_id")

  // ---- Streaming time-weighted average: stateful twin of the batch
  // q_time_weighted_avg. State per user is (last µs, last 10⁻⁴-unit
  // value, Σv·gap, Σgap) — four longs, constant in event volume. The
  // observed span Σgap is monotone, so max_by(twa, den) over the Update
  // trajectory recovers the final value; users whose span is still zero
  // (single event so far) emit nothing, matching the batch exclusion. ----
  private class UserTwa
      extends StatefulProcessor[Long, Event, (Long, Long, Long)] {
    @transient private var st: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("twa", fourLongs, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var (lastUs, lastV, num, den) =
        if (st.exists()) st.get() else (Long.MinValue, 0L, 0L, 0L)
      rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
        val t = us(e.ts)
        // Same 10⁻⁴-unit quantization as the batch twin's
        // DECIMAL(18,4) cast (HALF_UP at 4 decimals, exact binary in).
        val v = (BigDecimal(e.value)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact
        if (lastUs != Long.MinValue) { num += lastV * (t - lastUs); den += t - lastUs }
        lastUs = t; lastV = v
      }
      st.update((lastUs, lastV, num, den))
      if (den > 0) Iterator((key, num, den)) else Iterator.empty
    }
  }

  def qStreamTwa(s: SparkSession, dir: String): DataFrame =
    perUser(s, dir, new UserTwa, "q_twa_sink", "user_id", "num", "den")
      .groupBy("user_id")
      .agg(max_by(col("num"), col("den")).as("num"), max("den").as("den"))
      .select(col("user_id"),
        round(col("num").cast("double") / col("den") / 10000d, 6).as("twa"),
        round(col("den").cast("double") / 1000000d, 6).as("obs_s"))
      .orderBy("user_id")

  // ---- Update-mode stateful aggregation (the third output mode: Q38-Q40
  // drain Complete, qLateDrop Append, q42 is Update but through
  // flatMapGroupsWithState, not a built-in aggregation). Update mode
  // re-emits a group's CURRENT aggregate in every micro-batch that changes
  // it, so the memory sink accumulates the update trajectory; the final
  // state per key is its last update — recovered as max_by(·, cnt), since
  // a group is only re-emitted when new rows arrived and its count
  // strictly grew. Equality with the batch twin proves the per-key state
  // carried correctly across micro-batches. ----
  def qStreamUpdate(s: SparkSession, dir: String): DataFrame = {
    val out = drain(
      replay(s, prepareChunks(s, dir))
        .withWatermark("ts", "1 hour")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          Tables.money(sum(Tables.dec(col("value")))).as("sum_value")),
      "q_update_sink", OutputMode.Update())
    out.groupBy("event_type")
      .agg(max("cnt").as("cnt"),
        max_by(col("sum_value"), col("cnt")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Hour-window counts per event type under a 30-minute watermark, with
    * the window rendered as `hour_start`. In Append mode a window is
    * emitted once, when the watermark passes its end, and rows arriving
    * behind the watermark are dropped; because the replay is time-ordered,
    * the emitted set is exactly the windows ending at or before
    * max(ts) − 30 min. */
  private def closedHourCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(Tables.tsStr(col("window.start")).as("hour_start"),
        col("event_type"), col("cnt"))

  // ---- Append-mode watermark eviction: the production contract the
  // Complete-mode equivalence harness can only declare. The replay ends
  // with a chunk of COPIES of the first 100 events (hours older than the
  // watermark by then), so append mode (a) emits each closed window
  // exactly once and (b) DROPS the late rows — if eviction were broken,
  // the early windows would double-count and the hash compare would fail.
  // The dropped-row COUNT is asserted in StreamingSpec via
  // numRowsDroppedByWatermark. ----
  def qLateDrop(s: SparkSession, dir: String): DataFrame =
    drain(closedHourCounts(replay(s, prepareChunks(s, dir, dupCount = 100))),
        "q_late_drop_sink", OutputMode.Append())
      .orderBy("hour_start", "event_type")

  // ---- Parquet FILE sink with checkpointed exactly-once semantics: the
  // production sink shape (the memory sink exists only for tests). The
  // sink's _spark_metadata commit log plus the checkpoint make the write
  // exactly-once — proven, not declared, by draining the SAME chunks a
  // second time through the SAME checkpoint and reading the sink back:
  // the second drain finds every source file already committed and adds
  // nothing. ----
  def qStreamFileSink(s: SparkSession, dir: String): DataFrame = {
    val chunks = prepareChunks(s, dir)
    val outDir = graft.core.TempDirs.create("graft-file-sink")
    def drainOnce(): Unit =
      runToEnd(closedHourCounts(replay(s, chunks)).writeStream.format("parquet")
        .option("path", s"$outDir/data")
        .option("checkpointLocation", s"$outDir/chk")
        .outputMode(OutputMode.Append()))
    drainOnce()
    drainOnce() // second drain over the same checkpoint must add nothing
    s.read.parquet(s"$outDir/data")
      .orderBy("hour_start", "event_type")
  }

  // ---- Stream-static join: streaming events ⋈ static customer dim ----
  def qStreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = replay(s, prepareChunks(s, dir))
      .join(cust, col("user_id") === col("c_custkey")) // static side broadcast
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
    drain(joined, "q_ssj_sink", OutputMode.Complete())
      .orderBy("c_mktsegment")
  }

  // ---- foreachBatch sink: per-micro-batch parquet appends, drained
  // into a fresh dir on every call so the result is always this call's. ----
  def qForeachBatch(s: SparkSession, dir: String): DataFrame = {
    val sinkDir = graft.core.TempDirs.create("graft-feb")
    runToEnd(replay(s, prepareChunks(s, dir)).writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // The canonical custom-sink shape: arbitrary batch-level logic;
        // here an append-mode parquet write per micro-batch.
        batch.write.mode("append").parquet(sinkDir)
      })
    s.read.parquet(sinkDir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  /** Merge one microbatch's per-(user, type) partials into the keyed
    * state table under `tableDir` — the idempotent foreachBatch MERGE
    * every streaming-CDC pipeline needs over a non-transactional sink.
    *
    * Exactly-once without sink transactions: the table is versioned
    * (`v<batchId>` directories) and a MANIFEST records the last applied
    * batchId. A retried or checkpoint-replayed batch (same batchId)
    * short-circuits, so applying is idempotent even though parquet has
    * no atomic upsert. The merge itself is `q_merge_upsert`'s plan — a
    * full-outer join on the key with count/decimal-sum partials added —
    * so the state table stays exact under any batch slicing. The
    * superseded version is vacuumed after the manifest flips.
    * At 100 TB the state table is keys-sized (users×types), not
    * corpus-sized, and the join hashes the same key every batch. */
  def mergeBatch(s: SparkSession, tableDir: String, batch: DataFrame,
      batchId: Long): Unit = {
    val manifest = Paths.get(tableDir, "MANIFEST")
    val applied =
      if (Files.exists(manifest))
        new String(Files.readAllBytes(manifest), "UTF-8").trim.toLong
      else -1L
    if (batchId <= applied) return // replayed/retried batch: already in
    val partial = batch
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(Tables.dec(col("value"))).cast("decimal(28,4)").as("sv"))
    val merged =
      if (applied < 0) partial
      else {
        val cur = s.read.parquet(s"$tableDir/v$applied")
        cur.as("c").join(partial.as("p"),
            col("c.user_id") === col("p.user_id") &&
            col("c.event_type") === col("p.event_type"), "full_outer")
          .select(
            coalesce(col("c.user_id"), col("p.user_id")).as("user_id"),
            coalesce(col("c.event_type"), col("p.event_type")).as("event_type"),
            (coalesce(col("c.cnt"), lit(0L)) + coalesce(col("p.cnt"), lit(0L)))
              .as("cnt"),
            (coalesce(col("c.sv"), lit(0).cast("decimal(28,4)"))
              + coalesce(col("p.sv"), lit(0).cast("decimal(28,4)")))
              .cast("decimal(28,4)").as("sv"))
      }
    merged.write.mode("overwrite").parquet(s"$tableDir/v$batchId")
    Files.write(manifest, batchId.toString.getBytes("UTF-8"))
    if (applied >= 0) // vacuum the superseded version
      graft.core.TempDirs.delete(s"$tableDir/v$applied")
  }

  /** Streaming CDC-apply: replay events through foreachBatch-MERGE into
    * the versioned state table, then read the final version — which must
    * equal the batch group-by (the oracle). */
  def qStreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val tableDir = graft.core.TempDirs.create("graft-upsert")
    runToEnd(replay(s, prepareChunks(s, dir)).writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        mergeBatch(s, tableDir, batch.toDF(), id)
      }
      .option("checkpointLocation", s"$tableDir/chk"))
    val applied = new String(Files.readAllBytes(Paths.get(tableDir, "MANIFEST")),
      "UTF-8").trim.toLong
    s.read.parquet(s"$tableDir/v$applied")
      .select(col("user_id"), col("event_type"), col("cnt"),
        Tables.money(col("sv")).as("sum_value"))
      .orderBy("user_id", "event_type")
  }

  // ---- Stream-stream interval joins: inner, left, right and full outer
  // over one pair shape. ----

  private val InnerWatermark = "2 hours"

  /** Watermark of the three outer joins; Replay.cutoffUs is derived
    * from it. */
  private val OuterWatermark = "30 minutes"

  /** Same-user event pairs at most 5 minutes apart, `lid < rid`, from two
    * replays of `dir` aliased lid/luser/lts and rid/ruser/rts and joined
    * under `joinType`. The watermark on both sides plus the time-range
    * bound make both sides' join state watermark-evictable. */
  private[graft] def intervalPairs(s: SparkSession, dir: String,
      joinType: String, watermark: String): DataFrame = {
    val chunks = prepareChunks(s, dir)
    def side(p: String): DataFrame = replay(s, chunks).withWatermark("ts", watermark)
      .select(col("event_id").as(s"${p}id"), col("user_id").as(s"${p}user"),
        col("ts").as(s"${p}ts"))
    side("l").join(side("r"),
      col("luser") === col("ruser") &&
      col("rts") >= col("lts") &&
      col("rts") <= col("lts") + expr("INTERVAL 5 MINUTES") &&
      col("lid") < col("rid"),
      joinType)
  }

  /** INNER join; pairs are drained raw (append) and ordered in batch. */
  def qStreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    drain(intervalPairs(s, dir, "inner", InnerWatermark), "q_ssj2_sink", OutputMode.Append())
      .select(col("lid"), col("rid"), col("luser").as("user_id"))
      .orderBy("lid", "rid")

  /** LEFT OUTER join: events with no later same-user event within
    * 5 minutes surface with a null partner. A left row is final once the
    * watermark passes lts + 5 min, so the comparison window is
    * lts ≤ cutoff, applied post-drain and mirrored by the oracle. */
  def qStreamStreamLeft(s: SparkSession, dir: String): DataFrame = {
    val cutoff = fixture(s, dir).cutoffUs
    drain(intervalPairs(s, dir, "leftOuter", OuterWatermark), "q_ssj_left_sink",
        OutputMode.Append())
      .filter(unix_micros(col("lts")) <= cutoff)
      .select(col("lid"), col("rid"), col("luser").as("user_id"))
      .orderBy(col("lid"), col("rid").asc_nulls_first)
  }

  /** RIGHT OUTER join, the twin of the batch q_right_outer: events with
    * no EARLIER same-user event within 5 minutes surface with a null left
    * partner. A right row's partners have `lts ∈ [rts − 5 min, rts]`, so
    * it is final once the watermark passes `rts`; the comparison window
    * is rts ≤ cutoff, mirrored by the oracle. */
  def qStreamStreamRight(s: SparkSession, dir: String): DataFrame = {
    val cutoff = fixture(s, dir).cutoffUs
    drain(intervalPairs(s, dir, "rightOuter", OuterWatermark), "q_ssj_right_sink",
        OutputMode.Append())
      .filter(unix_micros(col("rts")) <= cutoff)
      .select(col("lid"), col("rid"), col("ruser").as("user_id"))
      .orderBy(col("rid"), col("lid").asc_nulls_first)
  }

  /** FULL OUTER join: both sides' unmatched rows are null-extended when
    * the watermark finalizes them, so the comparison window excludes
    * BOTH streams' pending tails, mirrored by the oracle's two-sided
    * WHERE. */
  def qStreamStreamFull(s: SparkSession, dir: String): DataFrame = {
    val cutoff = fixture(s, dir).cutoffUs
    drain(intervalPairs(s, dir, "fullOuter", OuterWatermark), "q_ssj_full_sink",
        OutputMode.Append())
      .filter((col("lts").isNull || unix_micros(col("lts")) <= cutoff) &&
        (col("rts").isNull || unix_micros(col("rts")) <= cutoff))
      .select(col("lid"), col("rid"),
        coalesce(col("luser"), col("ruser")).as("user_id"))
      .orderBy(col("lid").asc_nulls_first, col("rid").asc_nulls_first)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_file_sink" -> (qStreamFileSink _),
    "q_stream_static_join" -> (qStreamStaticJoin _),
    "q_stream_stream_join" -> (qStreamStreamJoin _),
    "q_stream_join_left" -> (qStreamStreamLeft _),
    "q_stream_join_right" -> (qStreamStreamRight _),
    "q_stream_join_full" -> (qStreamStreamFull _),
    "q_stream_upsert" -> (qStreamUpsert _),
    "q_stream_foreach_batch" -> (qForeachBatch _),
    "q_stream_late_drop" -> (qLateDrop _),
    "q_stream_update" -> (qStreamUpdate _),
    "q38_stream_tumbling" -> (q38 _),
    "q39_stream_sliding" -> (q39 _),
    "q40_stream_session" -> (q40 _),
    "q41_stream_dedup" -> (q41 _),
    "q42_stream_stateful" -> (q42 _),
    "q_stream_tws" -> (qStreamTws _),
    "q_stream_tws_map" -> (qStreamTwsMap _),
    "q_stream_interval_merge" -> (qStreamIntervalMerge _),
    "q_stream_twa" -> (qStreamTwa _))

  /** Pre-sink streaming frames for throughput measurement
    * (tools.StreamScale): the SAME pipeline construction as the registry
    * queries (shared helpers, so they cannot drift), but WITHOUT the
    * memory-sink drain. The memory sink accumulates every output row on
    * the driver heap — at sf10 (10 M events) that OOMs the default 8 g
    * heap and measures harness allocation, not the state machine.
    * StreamScale drains these through the noop sink instead; correctness
    * paths keep the memory sink (the oracle compare needs the rows).
    * Each entry returns (stream, required output mode). */
  val measurementStreams
      : Map[String, (SparkSession, String) => (DataFrame, OutputMode)] = Map(
    "q38_stream_tumbling" ->
      ((s, d) => (q38Stream(s, d), OutputMode.Complete())),
    "q41_stream_dedup" ->
      ((s, d) => (q41Stream(s, d), OutputMode.Append())),
    "q_stream_stream_join" ->
      ((s, d) => (intervalPairs(s, d, "inner", InnerWatermark), OutputMode.Append())),
    "q_stream_join_right" ->
      ((s, d) => (intervalPairs(s, d, "rightOuter", OuterWatermark), OutputMode.Append())))

  private val closedHourOracle = """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, count(*) AS cnt
      FROM events
      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              <= (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE
      GROUP BY 1, 2 ORDER BY 1, 2"""

  /** DuckDB twins: the streaming results must equal these batch queries. */
  val oracle: Map[String, String] = Map(
    "q_stream_static_join" -> """
      SELECT c_mktsegment, count(*) AS cnt
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_stream_foreach_batch" -> """
      SELECT event_type, count(*) AS cnt
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q_stream_stream_join" -> """
      SELECT l.event_id AS lid, r.event_id AS rid, l.user_id
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts
       AND r.ts <= l.ts + INTERVAL 5 MINUTE
       AND l.event_id < r.event_id
      ORDER BY lid, rid""",

    "q_stream_join_left" -> """
      SELECT l.event_id AS lid, r.event_id AS rid, l.user_id
      FROM events l LEFT JOIN events r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts
       AND r.ts <= l.ts + INTERVAL 5 MINUTE
       AND l.event_id < r.event_id
      WHERE epoch_us(l.ts) <=
        (SELECT max(epoch_us(ts)) FROM events) - CAST(2160000000 AS BIGINT)
      ORDER BY lid, rid NULLS FIRST""",

    "q_stream_join_right" -> """
      SELECT l.event_id AS lid, r.event_id AS rid, r.user_id
      FROM events l RIGHT JOIN events r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts
       AND r.ts <= l.ts + INTERVAL 5 MINUTE
       AND l.event_id < r.event_id
      WHERE epoch_us(r.ts) <=
        (SELECT max(epoch_us(ts)) FROM events) - CAST(2160000000 AS BIGINT)
      ORDER BY rid, lid NULLS FIRST""",

    "q_stream_join_full" -> """
      WITH cut AS (
        SELECT max(epoch_us(ts)) - CAST(2160000000 AS BIGINT) AS c FROM events)
      SELECT l.event_id AS lid, r.event_id AS rid,
             coalesce(l.user_id, r.user_id) AS user_id
      FROM events l FULL JOIN events r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts
       AND r.ts <= l.ts + INTERVAL 5 MINUTE
       AND l.event_id < r.event_id
      WHERE (l.ts IS NULL OR epoch_us(l.ts) <= (SELECT c FROM cut))
        AND (r.ts IS NULL OR epoch_us(r.ts) <= (SELECT c FROM cut))
      ORDER BY lid NULLS FIRST, rid NULLS FIRST""",

    "q_stream_upsert" -> """
      SELECT user_id, event_type, count(*) AS cnt,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // Both drain closedHourCounts; the late drop's planted rows fall
    // behind the watermark, so the two emit the same closed windows.
    "q_stream_late_drop" -> closedHourOracle,
    "q_stream_file_sink" -> closedHourOracle,

    "q_stream_update" -> """
      SELECT event_type, count(*) AS cnt,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q38_stream_tumbling" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, count(*) AS cnt,
             CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q39_stream_sliding" -> """
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
             count(*) AS cnt
      FROM (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - k * INTERVAL '15 minutes' AS ws, event_type
        FROM events, (SELECT unnest(range(0, 4)) AS k))
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q40_stream_session" -> """
      WITH o AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      f AS (
        SELECT user_id,
               CASE WHEN prev IS NULL
                      OR epoch_us(ts) - epoch_us(prev) > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM o)
      SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions
      FROM f GROUP BY user_id ORDER BY user_id""",

    "q41_stream_dedup" -> """
      SELECT count(DISTINCT event_id) AS n_unique,
             count(DISTINCT event_id) AS n_distinct_check
      FROM events""",

    "q42_stream_stateful" -> """
      SELECT user_id, count(*) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id""",

    "q_stream_tws" -> """
      SELECT user_id, count(*) AS n_events, max(value) AS max_value
      FROM events GROUP BY user_id ORDER BY user_id""",

    "q_stream_tws_map" -> """
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    // Identical semantics to the batch operators — one source of truth.
    "q_stream_interval_merge" -> graft.queries.EventOps.oracle("q_interval_merge"),
    "q_stream_twa" -> graft.queries.EventOps.oracle("q_time_weighted_avg")
  )
}
