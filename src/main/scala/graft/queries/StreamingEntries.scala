package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.{Entry, QueryFile}
import graft.db.ParquetSource
import graft.streaming.{Event, Streaming}
import java.nio.file.{Files, Paths}

/** Driver-checked Structured Streaming entries: each runs a streaming
  * operator over the events fixture as a REAL file-source stream
  * (readStream → transform → writeStream, Trigger.AvailableNow, memory
  * sink) and returns the drained result as a batch DataFrame, so the
  * driver's DuckDB oracle can hash-compare it like any batch query.
  *
  * Finality: sessions close and append-mode windows emit only when the
  * event-time watermark passes them, so a bounded stream's tail would
  * stay open forever. The staged stream therefore appends one far-future
  * SENTINEL event per user (10 days past the fixture's max ts): it
  * closes every real session in-flow and drags the watermark past every
  * real window on the final (no-data) micro-batch. Sentinel rows never
  * surface — their own sessions stay open (unemitted) and their windows
  * are filtered out.
  *
  * Oracle equivalence: a drained bounded stream equals the batch
  * computation — gap-sessionization emits exactly the batch session set
  * (q21's construction) and watermark-finalized tumbling windows equal
  * the batch GROUP BY — which is precisely the invariant worth
  * driver-checking about the streaming operators.
  */
object StreamingEntries extends QueryFile {

  /** Read schema of a staged events dir: the ACTUAL on-disk schema from
    * the parquet footers (staging copies or rewrites fixture files, so
    * this is the fixture's current ts flavor — nanos-long, timestamp or
    * timestamp_ntz). File streams need an explicit schema; deriving it
    * from the staged files rather than hard-coding one is what makes the
    * streaming entries survive fixture-schema regenerations, with
    * [[Tables.tsUs]] adapting the event-time conversion to whatever the
    * footer says.
    */
  private def stagedSchema(s: SparkSession, staged: String): StructType =
    ParquetSource.read(s, staged).schema

  /** Stage the fixture events plus one sentinel event per user into a
    * fresh directory for the file-stream source. Staged dirs are
    * MEMOIZED per fixture dir (staging is deterministic, and one bench
    * round otherwise re-stages 4× per entry) and removed on JVM exit.
    *
    * All sentinels share ONE timestamp (global max + 10 days): the final
    * watermark lands at sentinel − delay, strictly before every sentinel
    * session's timeout (sentinel + gap), so no sentinel session can ever
    * emit. (Per-user sentinels would leak: a user idle > 2·gap before
    * the global max would get their sentinel session timed out.)
    */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // temp-dir staging + single exit hook live in TempDirs (shared with
  // EtlShapes.stageCsv)
  private def deleteRecursively(root: java.nio.file.Path): Unit =
    TempDirs.deleteRecursively(root)

  private def tempDirCleanedAtExit(
      parent: Option[java.nio.file.Path], prefix: String): java.nio.file.Path =
    TempDirs.tempDirCleanedAtExit(parent, prefix)

  private def stageWithSentinels(s: SparkSession, dir: String): String =
    stagedDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_stream_entry_")
      Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("events.parquet"))
      val tenDaysUs = 10L * 24 * 3600 * 1000L * 1000
      val events = Tables(s, dir, "events")
      val sentinelUs =
        events.agg(max(Tables.tsUs(events, "ts"))).head().getLong(0) + tenDaysUs
      // sentinel ts rendered back in the fixture's own flavor, so the
      // staged dir stays schema-homogeneous for the file stream
      events.select(col("user_id")).distinct()
        .select(
          lit(-1L).as("event_id"),
          Tables.tsLit(events.schema("ts").dataType, sentinelUs).as("ts"),
          col("user_id"),
          lit("_sentinel").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
        .write.mode("append").parquet(staged.toString)
      staged.toString
    })

  /** Drain a streaming DataFrame into a memory sink with
    * Trigger.AvailableNow and return the sink table.
    */
  private def runAvailableNow(df: DataFrame, name: String): DataFrame = {
    val s = df.sparkSession
    s.catalog.dropTempView(name) // re-runs in one session (bench warmup)
    // checkpoint on tmpfs when the host has one: every micro-batch fsyncs
    // offset/commit logs and state deltas, and a drained bounded run's
    // checkpoint is throwaway — RAM-backed IO is free speedup with no
    // durability loss that matters here (a real deployment keeps its
    // checkpoint on durable storage to resume).
    val w = df.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow())
    // a drained bounded run's checkpoint is throwaway: it lives in a
    // per-run subdir of ONE memoized parent (single exit hook) and is
    // deleted as soon as the drain finishes, so repeated runs in one JVM
    // (bench warmup + 3 timed passes) never accumulate RAM-backed state
    val ckpt = Files.createTempDirectory(ckptParent, "run_")
    val q = w.option("checkpointLocation", ckpt.toString).start()
    try q.awaitTermination()
    finally deleteRecursively(ckpt)
    s.table(name)
  }

  /** Parent dir for throwaway streaming checkpoints: tmpfs when the host
    * has one (micro-batch offset/commit fsyncs are free on RAM with no
    * durability loss that matters for a drained run), else default tmp.
    * A real deployment keeps its checkpoint on durable storage to resume.
    */
  private lazy val ckptParent: java.nio.file.Path = {
    val shm = Paths.get("/dev/shm")
    val parent =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
    tempDirCleanedAtExit(parent, "graft_ckpt_")
  }

  /** State-partition count for the drained entries. The stateful shuffle
    * width is frozen into the checkpoint at first run, and every
    * micro-batch commits one state-store delta PER PARTITION — so the
    * right number tracks key cardinality / throughput, not the session's
    * batch-shuffle width (32 partitions over the fixture's 2k users is
    * pure commit overhead). A production deployment sizes this up with
    * the stream; see streaming/Streaming.scala scaladoc.
    */
  private val statePartitions = 4

  /** Streaming entries run on a PRIVATE session (shared SparkContext and
    * catalog, own SQLConf): the state-partition conf must not leak into
    * concurrently-running batch queries on the shared session.
    */
  private def streamSession(s: SparkSession): SparkSession =
    streamSession(s, statePartitions)

  private def streamSession(s: SparkSession, partitions: Int): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", partitions)
    s2
  }

  private def eventStream(s: SparkSession, staged: String): DataFrame = {
    val schema = stagedSchema(s, staged)
    s.readStream.schema(schema).parquet(staged)
      .select(
        col("user_id"),
        timestamp_micros(Tables.tsUs(schema, "ts")).as("ts"),
        col("event_type"),
        col("value"))
  }

  // q38: streaming gap-sessionization (flatMapGroupsWithState, event-time
  // timeout) drained over the fixture. Output = every real session's
  // boundaries; timestamps surface as epoch micros so the hash compare
  // is integer-exact on both engines.
  def q38StreamingSessions(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val events =
      eventStream(streamSession(s), staged).as[Event](Encoders.product[Event])
    val sessions = Streaming.sessionize(events, gapMinutes = 30)
    runAvailableNow(sessions.toDF(), "graft_q38_sessions")
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts")).as("start_us"),
        unix_micros(col("end_ts")).as("end_us"))
  }

  // q132: the SAME sessionization through Spark 4's transformWithState
  // arbitrary-state API (typed ValueState + event-time timers on the
  // RocksDB store) — batch q21, flatMapGroupsWithState q38, built-in
  // session_window q74 and this entry agree FOUR ways on one oracle.
  def q132SessionizeTws(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val s2 = streamSession(s)
    // transformWithState requires the RocksDB state store provider
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val events = eventStream(s2, staged).as[Event](Encoders.product[Event])
    val sessions = Streaming.sessionizeTws(events, gapMinutes = 30)
    runAvailableNow(sessions.toDF(), "graft_q132_sessions")
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts")).as("start_us"),
        unix_micros(col("end_ts")).as("end_us"))
  }

  // Gap check and ordering at epoch µs (not raw ts) — same precision
  // discipline as the Spark side; see q21Sql's note.
  val q38Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flag AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL OR us > lag(us) OVER w + 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flag)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
      |  MIN(us) AS start_us,
      |  MAX(us) AS end_us
      |FROM sess GROUP BY 1,2""".stripMargin

  // q39: streaming watermarked tumbling-window aggregation drained over
  // the fixture; append mode, so every emitted row is a FINALIZED window
  // (the invariant the oracle checks — equal to the batch GROUP BY).
  def q39StreamingWindow(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val counts = Streaming.windowedCounts(
      eventStream(streamSession(s), staged), "ts", "event_type",
      windowLen = "1 hour", watermark = "30 minutes")
    runAvailableNow(counts, "graft_q39_window")
      .filter(col("event_type") =!= "_sentinel")
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  val q39Sql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1,2""".stripMargin

  // q147: SLIDING-window streaming aggregation (2h window, 1h slide) —
  // the overlapping-window path q39's tumbling entry never exercises.
  // Every event lands in exactly len/slide = 2 windows, so the oracle is
  // the batch GROUP BY over the event set UNION ALL'd once per window
  // it belongs to (start = trunc(ts) and trunc(ts) − 1h).
  def q147StreamingSlidingWindow(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val counts = Streaming.windowedCounts(
      eventStream(streamSession(s), staged), "ts", "event_type",
      windowLen = "2 hours", slide = Some("1 hour"),
      watermark = "30 minutes")
    runAvailableNow(counts, "graft_q147_sliding")
      .filter(col("event_type") =!= "_sentinel")
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  val q147Sql: String =
    """WITH e2 AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) AS ws, event_type, value
      |  FROM events
      |  UNION ALL
      |  SELECT epoch_us(date_trunc('hour', ts) - INTERVAL 1 HOUR),
      |    event_type, value
      |  FROM events)
      |SELECT ws AS window_start_us, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM e2 GROUP BY 1, 2""".stripMargin

  /** Stage the fixture events TWICE (a replayed stream — the
    * at-least-once delivery shape dedupStream exists for). No sentinels:
    * dedup emits first occurrences on arrival, so no watermark-finality
    * wait is needed to drain. Memoized like [[stageWithSentinels]].
    */
  private val doubledDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageDoubled(dir: String): String =
    doubledDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_stream_replay_")
      Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("events_a.parquet"))
      Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("events_b.parquet"))
      staged.toString
    })

  // q55: streaming exact dedup over a REPLAYED stream (every event
  // delivered twice) — first occurrence per full row passes, replays
  // drop, so the drained output is exactly the original event set (the
  // fixture's rows are unique), which is precisely the oracle.
  def q55StreamingDedup(s: SparkSession, dir: String): DataFrame = {
    val staged = stageDoubled(dir)
    val deduped = Streaming.dedupStream(
      eventStream(streamSession(s), staged), "ts",
      Seq("user_id", "event_type", "value"))
    runAvailableNow(deduped, "graft_q55_dedup")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
  }

  val q55Sql: String =
    """SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |  event_type, value
      |FROM events""".stripMargin

  // q56: stream-static enrichment — the unbounded event stream joins a
  // small static dimension (event_type → category; Spark broadcasts the
  // static side into every micro-batch), then aggregates per finalized
  // window. LEFT join so sentinel rows survive to advance the watermark
  // (an inner join would drop them BEFORE the watermark operator and the
  // final windows would never emit).
  def q56StreamingEnrich(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val s2 = streamSession(s)
    val dim = s2.createDataFrame(Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "conversion"), ("signup", "conversion"),
      ("error", "error"))).toDF("event_type", "category")
    val enriched = eventStream(s2, staged)
      .join(broadcast(dim), Seq("event_type"), "left")
      .withColumn("category", coalesce(col("category"), col("event_type")))
    val counts = Streaming.windowedCounts(
      enriched, "ts", "category",
      windowLen = "1 hour", watermark = "30 minutes")
    runAvailableNow(counts, "graft_q56_enrich")
      .filter(col("category") =!= "_sentinel")
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("category"), col("n_events"), col("total_value"))
  }

  val q56Sql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
      |  CASE WHEN event_type IN ('click','view') THEN 'engagement'
      |       WHEN event_type IN ('purchase','signup') THEN 'conversion'
      |       WHEN event_type = 'error' THEN 'error'
      |       ELSE event_type END AS category,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1,2""".stripMargin

  // q74: gap sessions via Spark's BUILT-IN session_window aggregation —
  // the compose-existing-ops alternative to the custom
  // flatMapGroupsWithState sessionizer (q38). Same merge semantics
  // (events within the gap coalesce); the built-in window's end is
  // last_event + gap rather than last_event, so the oracle adds the gap
  // to MAX(ts). Sentinels drain it exactly like q38: their own sessions
  // never finalize, every real one does.
  def q74SessionWindow(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val ev = eventStream(streamSession(s), staged)
    val sessions = ev
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runAvailableNow(sessions, "graft_q74_session_window")
      .select(
        col("user_id"), col("n_events"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"))
  }

  // Gap check and ordering at epoch µs (not raw ts) — see q21Sql's note.
  val q74Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flag AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL OR us > lag(us) OVER w + 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flag)
      |SELECT user_id, COUNT(*) AS n_events,
      |  MIN(us) AS start_us,
      |  MAX(us) + 1800000000 AS end_us
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  // q75: the Misra-Gries sketch inside STREAMING windowed state — the
  // custom Aggregator runs as a UDAF in a watermarked window aggregate,
  // its ≤k-counter state living in the store and merging across
  // micro-batches. k=8 ≥ the fixture's event-type cardinality, and MG
  // is EXACT while under capacity (no evictions, no merge trims), so
  // the drained result must equal the batch GROUP BY — a real oracle
  // for the sketch's under-capacity contract AND its streaming merge
  // path at once. Sentinel windows never finalize, so no filter needed.
  def q75StreamingTopk(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val ev = eventStream(streamSession(s), staged)
    val counts = ev
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.HeavyHitters.udaf(8)(col("event_type")).as("_g_hh"))
    runAvailableNow(counts, "graft_q75_topk")
      .select(unix_micros(col("window.start")).as("window_start_us"),
        explode(col("_g_hh")))
      .toDF("window_start_us", "term", "n_events")
  }

  val q75Sql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
      |  event_type AS term, COUNT(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Plain staged copy of the fixture (no sentinels, no doubling) for
    * entries whose emission is match-driven rather than watermark-gated.
    * Memoized like [[stageWithSentinels]].
    */
  private val plainDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagePlain(dir: String): String =
    plainDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_stream_plain_")
      Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("events.parquet"))
      staged.toString
    })

  // q62: streaming interval join — purchase stream ⋈ error stream on
  // "purchase within the hour after the error", as a watermarked
  // stream-stream equi-join on the interval bucket (Streaming
  // .intervalJoin). Inner-join emission is match-driven, so the drained
  // answer equals the batch q59 range join — all three of the batch
  // operator, the streaming operator, and DuckDB's inequality join must
  // agree row-for-row, which is why this entry shares q59's oracle.
  def q62StreamingIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val staged = stagePlain(dir)
    // wider than the stateful-agg entries: the join keeps TWO stores per
    // partition but moves the whole corpus through the bucket shuffle —
    // data movement, not commit overhead, dominates here
    val s2 = streamSession(s, 8)
    val hourUs = 3600L * 1000 * 1000
    val schema = stagedSchema(s2, staged)
    def typed(tpe: String, idAs: String, tsAs: String): DataFrame =
      s2.readStream.schema(schema).parquet(staged)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs),
          timestamp_micros(Tables.tsUs(schema, "ts")).as(tsAs))
    val purchases = typed("purchase", "purchase_id", "p_ts")
    val errors = typed("error", "error_id", "e_ts")
    val joined = Streaming.intervalJoin(
      purchases, "p_ts", errors, "e_ts",
      lengthUs = hourUs, bucketWidthUs = hourUs)
    runAvailableNow(joined.select(col("purchase_id"), col("error_id")),
      "graft_q62_interval")
  }

  // q63: streaming as-of enrichment — the event stream picks up each
  // user's latest purchase value as of the event time from a STATIC
  // purchase-snapshot table (Streaming.asOfStatic: validity intervals on
  // the static side, stream-static left join). Stateless and
  // match-driven, so the drained answer equals the batch as-of join —
  // this entry shares q58's DuckDB ASOF oracle, making batch operator,
  // streaming operator and DuckDB agree three ways.
  def q63StreamingAsof(s: SparkSession, dir: String): DataFrame = {
    val staged = stagePlain(dir)
    val s2 = streamSession(s)
    val purchases = Tables.eventsUs(s2, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user"),
        timestamp_micros(col("ts_us")).as("p_ts"))
      .agg(max(col("value")).as("last_purchase_value"))
      .withColumnRenamed("p_user", "user_id")
    val schema = stagedSchema(s2, staged)
    val stream = s2.readStream.schema(schema).parquet(staged)
      .select(col("event_id"), col("user_id"),
        timestamp_micros(Tables.tsUs(schema, "ts")).as("ts"))
    val enriched = Streaming.asOfStatic(
      stream, "ts", purchases, Seq("user_id"), "p_ts")
    runAvailableNow(enriched, "graft_q63_asof")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("last_purchase_value"))
  }

  /** Sharded staged copy of the fixture (4 parquet shards) so
    * `maxFilesPerTrigger=1` yields several sequential micro-batches — a
    * real multi-batch run for per-batch sinks. Memoized like
    * [[stageWithSentinels]].
    */
  private val shardedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageSharded(s: SparkSession, dir: String): String =
    shardedDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_stream_shards_")
      Tables(s, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(staged.toString)
      staged.toString
    })

  // q89: streaming CDC apply — the foreachBatch UPSERT sink: every
  // micro-batch merges into a versioned parquet table (read current ∪
  // batch → Changelog.latestByKey → write next version → pointer swap),
  // the streaming half of the q66 compaction story. The staged fixture
  // is sharded 4 ways and read with maxFilesPerTrigger=1, so the drain
  // really performs 4 sequential upserts whose intermediate states are
  // each a valid compacted table. The final table must equal the batch
  // changelog compaction — this entry shares q66's oracle, making batch
  // operator, streaming sink and DuckDB agree three ways. (On a real
  // cluster the versioned-dir swap is the poor man's ACID table; swap in
  // a lakehouse MERGE sink for concurrent writers.)
  def q89StreamingCdcApply(s: SparkSession, dir: String): DataFrame = {
    val staged = stageSharded(s, dir)
    val s2 = streamSession(s)
    val root = tempDirCleanedAtExit(None, "graft_q89_cdc_")
    val schema = stagedSchema(s2, staged)
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .select(col("user_id"), col("event_type"), col("event_id"),
        Tables.tsUs(schema, "ts").as("ts_us"), col("value"))
    @volatile var current: Option[String] = None
    val upsert: (DataFrame, Long) => Unit = { (batch, id) =>
      val acc = current match {
        case Some(p) => ParquetSource.read(batch.sparkSession, p).unionByName(batch)
        case None => batch
      }
      val next = root.resolve(s"v$id").toString
      graft.ops.Changelog.latestByKey(
        acc, Seq("user_id", "event_type"), "ts_us", Seq("event_id"))
        .write.mode("overwrite").parquet(next)
      current = Some(next)
    }
    val ckpt = Files.createTempDirectory(ckptParent, "run_")
    val q = stream.writeStream.foreachBatch(upsert)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString).start()
    try q.awaitTermination()
    finally deleteRecursively(ckpt)
    ParquetSource.read(s, current.getOrElse(sys.error("q89: no micro-batch ran")))
  }

  /** Fixture plus ONE far-future sentinel row (not per-user): enough to
    * drag both sides' watermarks past every real row for outer-join
    * finality, without the per-user sentinel set's cross product when
    * both streams keep their sentinels. Memoized like the others.
    */
  private val oneSentinelDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageOneSentinel(s: SparkSession, dir: String): String =
    oneSentinelDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_stream_one_sentinel_")
      Files.copy(Paths.get(s"$dir/events.parquet"), staged.resolve("events.parquet"))
      val tenDaysUs = 10L * 24 * 3600 * 1000L * 1000
      val events = Tables(s, dir, "events")
      val sentinelUs =
        events.agg(max(Tables.tsUs(events, "ts"))).head().getLong(0) + tenDaysUs
      events.limit(1).select(
          lit(-1L).as("event_id"),
          Tables.tsLit(events.schema("ts").dataType, sentinelUs).as("ts"),
          lit(-1L).as("user_id"),
          lit("_sentinel").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
        .write.mode("append").parquet(staged.toString)
      staged.toString
    })

  // q97: streaming LEFT OUTER interval join — q62's pairing, but every
  // purchase emits even when no error precedes it (null error_id), the
  // attribution-with-coverage shape. Outer emission is watermark-gated:
  // an unmatched purchase finalizes only when the ERROR side's watermark
  // passes its last possible match time, so both streams carry the
  // single far-future sentinel (its self-match and any sentinel rows are
  // filtered by id). Drained result must equal DuckDB's batch LEFT
  // inequality join.
  def q97StreamingLeftIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val staged = stageOneSentinel(s, dir)
    val s2 = streamSession(s, 8)
    val hourUs = 3600L * 1000 * 1000
    val schema = stagedSchema(s2, staged)
    def typed(tpe: String, idAs: String, tsAs: String): DataFrame =
      s2.readStream.schema(schema).parquet(staged)
        .filter(col("event_type").isin(tpe, "_sentinel"))
        .select(col("event_id").as(idAs),
          timestamp_micros(Tables.tsUs(schema, "ts")).as(tsAs))
    val purchases = typed("purchase", "purchase_id", "p_ts")
    val errors = typed("error", "error_id", "e_ts")
    val joined = Streaming.intervalJoin(
      purchases, "p_ts", errors, "e_ts",
      lengthUs = hourUs, bucketWidthUs = hourUs, joinType = "left_outer")
    runAvailableNow(
      joined.select(col("purchase_id"), col("error_id")), "graft_q97_left_interval")
      .filter(col("purchase_id") =!= -1L &&
        (col("error_id").isNull || col("error_id") =!= -1L))
  }

  val q97Sql: String =
    """SELECT p.event_id AS purchase_id, i.event_id AS error_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') i
      |  ON epoch_us(CAST(p.ts AS TIMESTAMP)) >= epoch_us(CAST(i.ts AS TIMESTAMP))
      |  AND epoch_us(CAST(p.ts AS TIMESTAMP))
      |    <= epoch_us(CAST(i.ts AS TIMESTAMP)) + 3600000000""".stripMargin

  // q115: streaming sequential funnel (flatMapGroupsWithState, span-bound
  // finality: a user's row emits exactly once, when the watermark passes
  // t1 + 24h — then the state tombstones so a later signup cannot
  // re-enter). Drained per-user rows aggregate to the SAME step counts
  // as the batch funnel: q102's oracle verbatim, so batch, streaming
  // and DuckDB agree three ways.
  def q115StreamingFunnel(s: SparkSession, dir: String): DataFrame = {
    val staged = stageWithSentinels(s, dir)
    val events =
      eventStream(streamSession(s), staged).as[Event](Encoders.product[Event])
    val steps = Seq("signup", "click", "purchase")
    val res = Streaming.funnel(events, steps, maxSpanUs = 86400000000L)
    val rows = runAvailableNow(res.toDF(), "graft_q115_funnel")
    val aggs = steps.indices.map(i =>
      count(when(size(col("step_us")) >= i + 1, lit(1))).as(s"_g_n_${i + 1}"))
    rows.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(steps.zipWithIndex.map { case (name, i) => struct(
        lit(i + 1).as("step_idx"),
        lit(name).as("step_name"),
        col(s"_g_n_${i + 1}").as("n_users"))
      }: _*)).as("_g_s"))
      .select(col("_g_s.*"))
  }

  /** q117's incoming document set (new crawl + corpus re-crawls + one
    * duplicate pair) staged as FOUR shard files so the file stream
    * delivers it across four micro-batches — with the duplicate pair
    * (doc 250 and its 20250 copy) deliberately split across DIFFERENT
    * batches, so the cross-batch merge path is load-bearing, not
    * incidental. Memoized like the event stages.
    */
  private val incDocDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageIncrementalDocs(s: SparkSession, dir: String): String =
    incDocDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_q131_docs_")
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val incoming = docs.filter(col("doc_id") >= 250)
        .unionAll(docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") === 250)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val shard = when(col("doc_id") >= 20000, 3)
        .when(col("doc_id") >= 10000, 2)
        .when(col("doc_id") < 375, 0)
        .otherwise(1)
      (0 until 4).foreach { i =>
        incoming.filter(shard === i).coalesce(1)
          .write.mode("append").parquet(staged.toString)
      }
      staged.toString
    })

  /** q131: streaming incremental exact dedup — the nightly-ingest shape
    * of q117 run as a stream. Each micro-batch runs the BATCH operator
    * (TextDedup.incrementalExactDedup against the accumulated corpus's
    * hashes), and a foreachBatch sink merges surviving groups across
    * batches (full-outer on content_hash: keep_id = least, n_copies
    * summed — a commutative monoid, so file/batch order cannot change
    * the answer). Batch q117, this stream, and DuckDB agree three ways
    * on the same oracle.
    */
  def q131StreamingIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val staged = stageIncrementalDocs(s, dir)
    val s2 = streamSession(s)
    val root = tempDirCleanedAtExit(None, "graft_q131_state_")
    val docSchema = StructType.fromDDL("doc_id BIGINT, text STRING")
    val stream = s2.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    @volatile var current: Option[String] = None
    val upsert: (DataFrame, Long) => Unit = { (batch, id) =>
      val sp = batch.sparkSession
      val corpus = Tables(sp, dir, "documents")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 250)
      val survived = graft.pipeline.TextDedup
        .incrementalExactDedup(corpus, batch, "doc_id", "text")
      val acc = current match {
        case Some(p) =>
          val old = ParquetSource.read(sp, p)
          old.select(col("content_hash"), col("keep_id").as("_o_keep"),
              col("n_copies").as("_o_n"))
            .join(survived.select(col("content_hash"),
                col("keep_id").as("_n_keep"), col("n_copies").as("_n_n")),
              Seq("content_hash"), "full_outer")
            .select(col("content_hash"),
              least(coalesce(col("_o_keep"), col("_n_keep")),
                coalesce(col("_n_keep"), col("_o_keep"))).as("keep_id"),
              (coalesce(col("_o_n"), lit(0L)) + coalesce(col("_n_n"), lit(0L)))
                .as("n_copies"))
        case None => survived
      }
      val next = root.resolve(s"v$id").toString
      acc.write.mode("overwrite").parquet(next)
      current = Some(next)
    }
    val ckpt = Files.createTempDirectory(ckptParent, "run_")
    val q = stream.writeStream.foreachBatch(upsert)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString).start()
    try q.awaitTermination()
    finally deleteRecursively(ckpt)
    ParquetSource.read(s, current.getOrElse(sys.error("q131: no micro-batch ran")))
  }

  /** Stage documents as FOUR id-range shard files with strictly
    * increasing modification times, so the file stream replays the
    * corpus in doc_id order (FileStreamSource orders by modTime): the
    * arrival-order-follows-ids precondition under which the streaming
    * cap gate must reproduce the batch rank cap exactly.
    */
  private val policyDocDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stagePolicyDocs(s: SparkSession, dir: String): String =
    policyDocDirs.computeIfAbsent(dir, { _ =>
      import scala.jdk.CollectionConverters._
      val staged = tempDirCleanedAtExit(None, "graft_q206_docs_")
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
      val nShards = 4
      val width = docs.agg(max("doc_id")).head().getLong(0) / nShards + 1
      (0 until nShards).foreach { i =>
        val tmp = tempDirCleanedAtExit(None, "graft_q206_tmp_")
        docs.filter(col("doc_id") >= i * width && col("doc_id") < (i + 1) * width)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part =
          try listing.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally listing.close()
        val dest = staged.resolve(f"shard_$i%03d.parquet")
        Files.move(part, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 60000L))
      }
      staged.toString
    })

  /** q206: the STREAMING domain policy gate — the batch q201 run as a
    * crawl ingest: domain extraction (canonicalUrl chain) is stateless
    * on the stream, the per-domain cap is one GroupState counter per
    * domain persisting across micro-batches
    * ([[Streaming.domainCapGate]]), the blocklist verdict is stateless
    * after. One shard per micro-batch in id order, so the drained
    * stream hash-matches q201's oracle VERBATIM — batch gate, streaming
    * gate, and DuckDB agree three ways.
    */
  def q206StreamingDomainPolicy(s: SparkSession, dir: String): DataFrame = {
    val staged = stagePolicyDocs(s, dir)
    val s2 = streamSession(s)
    val schema = StructType.fromDDL("doc_id BIGINT, source STRING")
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val tc = graft.pipeline.TextClean
    val url = concat(lit("https://WWW."), col("source"),
      lit(".Example/p/"), col("doc_id").cast("string"),
      lit("?utm_source=crawl"))
    val dom = tc.registrableDomain(tc.urlHost(tc.canonicalUrl(url)))
    val arrivals = stream.select(col("doc_id"), dom.as("domain"))
      .as[graft.streaming.DocArrival](
        Encoders.product[graft.streaming.DocArrival])
    val gated = Streaming.domainCapGate(arrivals, maxPerDomain = 40)
    val blockedCol = col("domain").isin("src0.example", "src7.example")
    runAvailableNow(gated.toDF(), "graft_q206_policy")
      .select(col("doc_id"), col("domain"),
        blockedCol.cast("int").as("is_blocked"),
        col("domain_rank"),
        (!blockedCol && col("is_kept") === 1).cast("int").as("is_kept"))
  }

  /** q215: q206's cap gate on the transformWithState API (typed
    * ValueState counter on RocksDB, TimeMode.None — policy counts never
    * expire). Same staging, same stateless domain chain, same verdict
    * composition — so batch q201, fMGWS q206, TWS q215 and DuckDB agree
    * FOUR ways on one oracle (the q38/q74/q132 sessionization pattern
    * applied to the policy gate).
    */
  def q215StreamingDomainPolicyTws(s: SparkSession, dir: String): DataFrame = {
    val staged = stagePolicyDocs(s, dir)
    val s2 = streamSession(s)
    // RocksDB is scoped to THIS entry (ADVICE r10): save/restore the
    // provider so later entries on the shared stream session keep their
    // own state-store choice (mirrors the StreamingSpec pattern).
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s2.conf.getOption(provKey)
    s2.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try q215Body(s2, staged)
    finally prevProv match {
      case Some(v) => s2.conf.set(provKey, v)
      case None => s2.conf.unset(provKey)
    }
  }

  private def q215Body(s2: SparkSession, staged: String): DataFrame = {
    val schema = StructType.fromDDL("doc_id BIGINT, source STRING")
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val tc = graft.pipeline.TextClean
    val url = concat(lit("https://WWW."), col("source"),
      lit(".Example/p/"), col("doc_id").cast("string"),
      lit("?utm_source=crawl"))
    val dom = tc.registrableDomain(tc.urlHost(tc.canonicalUrl(url)))
    val arrivals = stream.select(col("doc_id"), dom.as("domain"))
      .as[graft.streaming.DocArrival](
        Encoders.product[graft.streaming.DocArrival])
    val gated = Streaming.domainCapGateTws(arrivals, maxPerDomain = 40)
    val blockedCol = col("domain").isin("src0.example", "src7.example")
    runAvailableNow(gated.toDF(), "graft_q215_policy")
      .select(col("doc_id"), col("domain"),
        blockedCol.cast("int").as("is_blocked"),
        col("domain_rank"),
        (!blockedCol && col("is_kept") === 1).cast("int").as("is_kept"))
  }

  /** Documents staged as FOUR id-range shard files for the stateless
    * scoring stream — scoring has no cross-batch state, so shard
    * order is irrelevant; sharding just exercises the multi-batch
    * path. Memoized like the other stages.
    */
  private val scoreDocDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageScoreDocs(s: SparkSession, dir: String): String =
    scoreDocDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_q227_docs_")
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val width = docs.agg(max("doc_id")).head().getLong(0) / 4 + 1
      (0 until 4).foreach { i =>
        docs.filter(col("doc_id") >= i * width && col("doc_id") < (i + 1) * width)
          .coalesce(1).write.mode("append").parquet(staged.toString)
      }
      staged.toString
    })

  /** q227: STREAMING quality-classifier scoring — the deployment shape
    * of q225/q226: the model is fit OFFLINE on the batch corpus
    * (Classifier.fitLogistic — the same training the q225 oracle
    * replays), published as literals, and the ingest stream scores
    * STATELESSLY per row via Classifier.scoreRowwise (in-row
    * featurization + margin + sigmoid; no streaming aggregation, no
    * state store — a pure Append projection). Row-wise and grouped
    * featurization produce bit-identical integers, so the drained
    * stream hash-matches q226's oracle VERBATIM: batch scorer,
    * streaming scorer, and DuckDB's full training replay agree three
    * ways.
    */
  private val ewmaDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage the daily per-type event counts as three HASH shards (order
    * deliberately unrelated to day order — the monitor's completion
    * protocol must not care) plus one sentinel row per key carrying its
    * expected row count.
    */
  private def stageDailyCounts(s: SparkSession, dir: String): String =
    ewmaDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_q290_daily_")
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("key"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("x"))
      (0 until 3).foreach { i =>
        daily.filter(abs(xxhash64(col("day"))) % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString)
      }
      daily.groupBy(col("key"))
        .agg(count(lit(1)).as("x"))
        .select(col("key"),
          lit(graft.streaming.EwmaMonitor.Sentinel).as("day"), col("x"))
        .coalesce(1).write.mode("append").parquet(staged.toString)
      staged.toString
    })

  /** q290: the EWMA volume alarm run as a STREAM — same oracle as the
    * batch q279 (the multi-form discipline): daily counts arrive in
    * hash-sharded micro-batches, keys finalize via the completion
    * sentinel, and the emitted chart must be hash-identical to the
    * batch operator's.
    */
  def q290StreamingEwma(s: SparkSession, dir: String): DataFrame = {
    val staged = stageDailyCounts(s, dir)
    val s2 = streamSession(s)
    val schema = stagedSchema(s2, staged)
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .as[graft.streaming.DayCount](
        Encoders.product[graft.streaming.DayCount])
    val out = graft.streaming.Streaming.ewmaMonitor(stream)
    runAvailableNow(out.toDF(), "graft_q290_ewma")
      .select(col("key").as("event_type"), col("day"),
        col("x").as("n_events"), col("n_hist"), col("ewma"),
        col("sigma"), col("is_alarm"))
  }

  def q227StreamingQualityScore(s: SparkSession, dir: String): DataFrame = {
    val staged = stageScoreDocs(s, dir)
    val model = Corpus.classifierFit(s, dir)._2
    val s2 = streamSession(s)
    val docSchema = StructType.fromDDL("doc_id BIGINT, text STRING")
    val stream = s2.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val scored = graft.pipeline.Classifier.scoreRowwise(
      stream, "doc_id", "text", Corpus.q225Label, model)
    runAvailableNow(scored, "graft_q227_score")
  }

  private val cusumDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage per-type daily counts as hash shards + per-key completion
    * sentinels for [[graft.streaming.Streaming.cusumMonitor]] (the
    * q290 staging discipline: shard order deliberately unrelated to
    * period order).
    */
  private def stageCusumCounts(s: SparkSession, dir: String): String =
    cusumDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_q322_cusum_")
      val daily = Tables.eventsUs(s, dir)
        .groupBy(col("event_type").as("key"),
          expr("ts_us div 86400000000").as("period"))
        .agg(count(lit(1)).as("x"))
      (0 until 3).foreach { i =>
        daily.filter(abs(xxhash64(col("period"))) % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString)
      }
      daily.groupBy(col("key"))
        .agg(count(lit(1)).as("x"))
        .select(col("key"),
          lit(graft.streaming.CusumMonitor.Sentinel).as("period"),
          col("x"))
        .coalesce(1).write.mode("append").parquet(staged.toString)
      staged.toString
    })

  /** q322: the CUSUM drift alarm run as a STREAM, per event type —
    * the q290 completion-sentinel discipline on the q320 integer
    * closed form; the drained stream must hash-match the per-key
    * batch replay in DuckDB.
    */
  def q322StreamingCusum(s: SparkSession, dir: String): DataFrame = {
    val staged = stageCusumCounts(s, dir)
    val s2 = streamSession(s)
    val schema = stagedSchema(s2, staged)
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .as[graft.streaming.PeriodCount](
        Encoders.product[graft.streaming.PeriodCount])
    val out = graft.streaming.Streaming.cusumMonitor(stream)
    runAvailableNow(out.toDF(), "graft_q322_cusum")
      .select(col("key").as("event_type"), col("period"), col("x"),
        col("s_pos"), col("s_neg"), col("alarm_pos"), col("alarm_neg"))
  }

  val q322Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period
      |  FROM events),
      |byp AS (SELECT k, period, CAST(COUNT(*) AS BIGINT) AS x
      |        FROM e GROUP BY 1, 2),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY period)
      |         AS rn FROM byp),
      |b AS (SELECT k, CAST(SUM(x) AS BIGINT) AS t FROM rk
      |      WHERE rn <= 7 GROUP BY 1),
      |c AS (
      |  SELECT rk.k, period, x, t,
      |    CAST(SUM(7000 * x - 1050 * t) OVER w AS BIGINT) AS c,
      |    CAST(SUM(7000 * x - 950 * t) OVER w AS BIGINT) AS dd
      |  FROM rk JOIN b ON b.k = rk.k
      |  WINDOW w AS (PARTITION BY rk.k ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT k, period, x, t, c, dd,
      |    MIN(LEAST(c, 0)) OVER w2 AS mn,
      |    MAX(GREATEST(dd, 0)) OVER w2 AS mx
      |  FROM c WINDOW w2 AS (PARTITION BY k ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT k AS event_type, period, x,
      |  CAST(CAST(CAST(c - mn AS DOUBLE) / 7000.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS s_pos,
      |  CAST(CAST(CAST(mx - dd AS DOUBLE) / 7000.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS s_neg,
      |  CAST(c - mn >= 500 * t AS INT) AS alarm_pos,
      |  CAST(mx - dd >= 500 * t AS INT) AS alarm_neg
      |FROM s""".stripMargin

  private val psiDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Stage q385's pre-binned (key, bin, slice) counts as hash shards
    * + per-key completion sentinels for
    * [[graft.streaming.Streaming.psiMonitor]]. Binning reuses
    * [[graft.pipeline.Stats.psiBinCounts]] VERBATIM — the reference-
    * decile edges are constants of the reference corpus, so the
    * stream carries observations, never quantiles.
    */
  private def stagePsiCounts(s: SparkSession, dir: String): String =
    psiDirs.computeIfAbsent(dir, { _ =>
      val staged = tempDirCleanedAtExit(None, "graft_q394_psi_")
      val e = Tables.eventsUs(s, dir)
        .withColumn("_day", expr("ts_us div 86400000000"))
      val lo = e.agg(min(col("_day")).as("_d0"))
      val binned = graft.pipeline.Stats.psiBinCounts(
        e.crossJoin(broadcast(lo))
          .withColumn("is_ref", col("_day") < col("_d0") + 15L),
        "event_type", "event_id", "value", "is_ref", bins = 10)
      val rows = binned.select(col("_k").as("key"), col("_bin").as("bin"),
          lit(1L).as("isRef"), col("_cr").as("n"))
        .union(binned.select(col("_k"), col("_bin"),
          lit(0L), col("_cc")))
      (0 until 3).foreach { i =>
        rows.filter(abs(xxhash64(col("bin"), col("isRef"))) % 3 === i)
          .coalesce(1).write.mode("append").parquet(staged.toString)
      }
      rows.groupBy(col("key"))
        .agg(count(lit(1)).as("n"))
        .select(col("key"),
          lit(graft.streaming.PsiMonitor.Sentinel).as("bin"),
          lit(0L).as("isRef"), col("n"))
        .coalesce(1).write.mode("append").parquet(staged.toString)
      staged.toString
    })

  /** q394: the PSI drift report run as a STREAM, per event type — the
    * q322 completion-sentinel discipline on q385's reference-decile
    * form; the drained stream must hash-match q385's batch oracle
    * (three-way agreement: batch entry, streaming twin, DuckDB).
    */
  def q394StreamingPsi(s: SparkSession, dir: String): DataFrame = {
    val staged = stagePsiCounts(s, dir)
    val s2 = streamSession(s)
    val schema = stagedSchema(s2, staged)
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .as[graft.streaming.BinCount](
        Encoders.product[graft.streaming.BinCount])
    val out = graft.streaming.Streaming.psiMonitor(stream)
    runAvailableNow(out.toDF(), "graft_q394_psi")
      .select(col("key").as("event_type"), col("n_ref"), col("n_cur"),
        col("psi"))
  }

  /** q440: the Hellinger drift report run as a STREAM — q394's
    * completion-sentinel fold emitting the true-METRIC drift member
    * over the same staged reference-decile BinCounts; the drained
    * stream must hash-match the DuckDB batch replay.
    */
  def q440StreamingHellinger(s: SparkSession, dir: String): DataFrame = {
    val staged = stagePsiCounts(s, dir)
    val s2 = streamSession(s)
    val schema = stagedSchema(s2, staged)
    val stream = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .as[graft.streaming.BinCount](
        Encoders.product[graft.streaming.BinCount])
    val out = graft.streaming.Streaming.hellingerMonitor(stream)
    runAvailableNow(out.toDF(), "graft_q440_hellinger")
      .select(col("key").as("event_type"), col("n_ref"), col("n_cur"),
        col("hellinger"))
  }

  /** q385's binning chain with the Hellinger affinity instead of the
    * PSI divergence — empty bins contribute the shared √(p_E·q_E)
    * term, mirroring the monitor's finalize exactly. */
  val q440Sql: String =
    """WITH d0 AS (
      |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
      |    AS lo FROM events),
      |b AS (
      |  SELECT event_type AS k, event_id AS id,
      |    CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS v,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 < lo + 15 AS r
      |  FROM events CROSS JOIN d0),
      |ref AS (SELECT * FROM b WHERE r),
      |nr AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM ref GROUP BY 1),
      |rk AS (SELECT ref.k, v,
      |    ROW_NUMBER() OVER (PARTITION BY ref.k
      |      ORDER BY v ASC, id ASC) AS rn, nr.n
      |  FROM ref JOIN nr ON nr.k = ref.k),
      |ed AS (SELECT k, v AS ev, kk
      |  FROM rk, (SELECT unnest(range(1, 10)) AS kk)
      |  WHERE rn = CAST(ceil(kk * n / 10.0) AS BIGINT)),
      |edges AS (SELECT k, list(ev ORDER BY kk) AS es
      |          FROM ed GROUP BY 1),
      |bn AS (SELECT b.k, 1 + len(list_filter(edges.es, e -> b.v > e))
      |    AS bin, b.r
      |  FROM b JOIN edges ON edges.k = b.k),
      |cnt AS (SELECT k, bin,
      |    CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cr,
      |    CAST(SUM(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS cc
      |  FROM bn GROUP BY 1, 2),
      |tot AS (SELECT k, CAST(SUM(cr) AS BIGINT) AS nrr,
      |    CAST(SUM(cc) AS BIGINT) AS ncc
      |  FROM cnt GROUP BY 1),
      |terms AS (SELECT cnt.k,
      |    CAST(CAST(sqrt(
      |      (CAST(cr + 1 AS DOUBLE) / CAST(nrr + 10 AS DOUBLE)) *
      |      (CAST(cc + 1 AS DOUBLE) / CAST(ncc + 10 AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6)) AS t6,
      |    CAST(CAST(sqrt(
      |      (1.0 / CAST(nrr + 10 AS DOUBLE)) *
      |      (1.0 / CAST(ncc + 10 AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6)) AS et6
      |  FROM cnt JOIN tot ON tot.k = cnt.k
      |  WHERE nrr > 0 AND ncc > 0),
      |agg AS (SELECT k, SUM(t6) AS s6,
      |    CAST(COUNT(*) AS BIGINT) AS nb, MAX(et6) AS et
      |  FROM terms GROUP BY 1)
      |SELECT tot.k AS event_type, nrr AS n_ref, ncc AS n_cur,
      |  CASE WHEN nrr > 0 AND ncc > 0 THEN
      |    CAST(CAST(sqrt(GREATEST(0.0, 1.0 -
      |      (CAST(s6 AS DOUBLE) +
      |       CAST(10 - nb AS DOUBLE) * CAST(et AS DOUBLE))))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS hellinger
      |FROM tot LEFT JOIN agg ON agg.k = tot.k""".stripMargin

  def entries: Seq[Entry] = Seq(
    // batch q385, this streaming twin, and DuckDB agree three ways
    Entry("q394_streaming_psi", q394StreamingPsi, Some(Analytics.q385Sql)),
    Entry("q440_streaming_hellinger", q440StreamingHellinger, Some(q440Sql)),
    Entry("q322_streaming_cusum", q322StreamingCusum, Some(q322Sql)),
    // batch q226 scorer, the stateless streaming scorer, and DuckDB's
    // full gradient-descent replay agree three ways
    Entry("q227_streaming_quality_score", q227StreamingQualityScore, Some(Corpus.q226Sql)),
    Entry("q290_streaming_ewma", q290StreamingEwma, Some(Analytics.q279Sql)),
    // batch incrementalExactDedup (q117), the streaming foreachBatch
    // merge, and DuckDB agree three ways
    Entry("q131_streaming_incremental_dedup", q131StreamingIncrementalDedup,
      Some(Pipeline.q117Sql)),
    // batch q201's gate, the streaming stateful cap, and DuckDB agree
    // three ways on the same oracle
    Entry("q206_streaming_domain_policy", q206StreamingDomainPolicy, Some(Corpus.q201Sql)),
    // ...and the transformWithState form makes it FOUR ways
    Entry("q215_streaming_domain_policy_tws", q215StreamingDomainPolicyTws, Some(Corpus.q201Sql)),
    // batch q21, fMGWS q38, session_window q74 and transformWithState
    // q132 agree four ways
    Entry("q132_sessionize_tws", q132SessionizeTws, Some(q38Sql)),
    // batch funnel, streaming span-bound funnel and the DuckDB
    // progressive-CTE rebuild agree three ways
    Entry("q115_streaming_funnel", q115StreamingFunnel, Some(Analytics.q102Sql)),
    Entry("q38_streaming_sessions", q38StreamingSessions, Some(q38Sql)),
    Entry("q39_streaming_window", q39StreamingWindow, Some(q39Sql)),
    Entry("q55_streaming_dedup", q55StreamingDedup, Some(q55Sql)),
    Entry("q56_streaming_enrich", q56StreamingEnrich, Some(q56Sql)),
    // all three of batch rangeJoin, streaming intervalJoin and DuckDB's
    // inequality join compute the same pair set
    Entry("q62_streaming_interval_join", q62StreamingIntervalJoin, Some(Temporal.q59Sql)),
    // batch asOf, streaming asOfStatic and DuckDB ASOF agree three ways
    Entry("q63_streaming_asof", q63StreamingAsof, Some(Temporal.q58Sql)),
    Entry("q74_session_window", q74SessionWindow, Some(q74Sql)),
    Entry("q75_streaming_topk", q75StreamingTopk, Some(q75Sql)),
    // batch latestByKey, the streaming foreachBatch upsert sink, and
    // DuckDB's row_number argmax agree three ways
    Entry("q89_streaming_cdc_apply", q89StreamingCdcApply, Some(Temporal.q66Sql)),
    Entry("q97_streaming_left_interval_join", q97StreamingLeftIntervalJoin, Some(q97Sql)),
    Entry("q147_streaming_sliding_window", q147StreamingSlidingWindow, Some(q147Sql)))
}
