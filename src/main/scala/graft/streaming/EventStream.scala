package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table: the streaming
  * twin of the batch operators in `graft.operators.Events`.
  *
  * Design:
  *  - event-time = `ts` with a 10-minute watermark: late rows beyond the
  *    watermark are dropped, state for closed windows is reclaimed — the
  *    requirement for unbounded runs at scale;
  *  - tumbling 5-minute windows keyed (window, event_type) — identical
  *    semantics to the batch q27, so the batch oracle doubles as the
  *    streaming correctness reference under Trigger.AvailableNow;
  *  - `dropDuplicatesWithinWatermark` on event_id bounds dedup state the
  *    same way (exactly-once per event id within the lateness horizon);
  *  - sinks append mode: only finalized windows emit, so downstream
  *    consumers never see retractions.
  *
  * The `ts` column's physical parquet type has varied across fixture
  * generations (TIMESTAMP(NANOS) vs micros TIMESTAMP_NTZ); streaming
  * sources take an explicit schema, so [[EventStream.source]] probes the
  * footer once and normalizes to TimestampType exactly like the batch
  * `Tables` loader.
  */
object EventStream {

  /** Explicit read schema (streaming sources do not infer) for a given
    * event-time vintage: nanos fixtures read `ts` as a raw long,
    * micros-NTZ fixtures as TIMESTAMP_NTZ.
    */
  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded source over a directory of event parquet files. */
  def source(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one footer read to learn the fixture's timestamp vintage
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Streaming q27: watermarked tumbling-window rates per event type. */
  def windowedRates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** State partitions per stateful operator, fixed at first run by the
    * checkpoint. Drains run on Spark's default state store, the
    * HDFS-backed provider, at 2 partitions: the drained streams' state is
    * model-scale (thousands of keys), and the r12 drain sweep
    * (OPTIMIZATION_r12.md, stream state-partition re-sweep) measured
    * HDFS at 1 and 2 partitions equal and fastest (q49 2.3 vs 2.2 s, q50
    * 2.2 vs 2.1 s) and RocksDB 2–5× slower per drain at this volume,
    * since each RocksDB instance pays its open and commit machinery
    * whatever the state size. A stream whose state outgrows the
    * heap sets `spark.sql.streaming.stateStore.providerClass` to RocksDB
    * on its session.
    */
  val StatePartitions = 2

  /** Drain `df` into the `tableName` memory sink and block until done
    * (Trigger.AvailableNow — batch-equivalent semantics).
    *
    * The checkpoint goes to a FRESH tmpfs dir per run and is deleted on
    * completion: the HDFS-backed state store writes delta/snapshot/commit
    * files per state partition per micro-batch, which on this host's
    * stall-prone virtio disk costs ~10 s per drain (vs ~1 s on tmpfs);
    * and a *reused* checkpoint would make the next drain resume past the
    * already-committed data and emit an empty table.
    */
  private[streaming] def drain(df: DataFrame, tableName: String,
      mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val spark = df.sparkSession
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), s"graft-ckpt-$tableName-")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    val q =
      try {
        val started = df.writeStream
          .format("memory")
          .queryName(tableName)
          .option("checkpointLocation", ckpt.toString)
          .outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .start()
        started.awaitTermination()
        started
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", before)
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    q
  }

  /** Run the windowed-rate stream over all data currently in `dir` and
    * block until drained — used by tests, q49, and backfills. Results
    * land in the `tableName` in-memory sink table.
    */
  def runAvailableNow(spark: SparkSession, dir: String, tableName: String): StreamingQuery =
    drain(windowedRates(source(spark, dir)), tableName)

  /** Streaming twin of the batch q40 range join: purchases matched to
    * the same user's clicks in the 10 minutes strictly before them, as a
    * watermarked stream-stream interval join.
    *
    * State bound: the watermark on both sides plus the two-sided time
    * bound in the join condition lets Spark evict click state older than
    * (purchase watermark − 10 min) and purchase state the click side can
    * no longer match — without both, stream-stream join state grows
    * forever. Inner join, so matches emit as they form (no watermark
    * close needed) and a drained AvailableNow run equals the batch inner
    * join exactly.
    */
  def purchaseClickJoin(events: DataFrame): DataFrame =
    purchaseClickJoined(events, "inner")

  /** Left-outer variant for q93: same watermarks and two-sided time
    * bound; the null-augmented row for a match-less purchase emits once
    * the click-side watermark passes its `ts` (state eviction proves no
    * matching click can still arrive).
    */
  def purchaseClickLeftJoin(events: DataFrame): DataFrame =
    purchaseClickJoined(events, "leftOuter")

  private def purchaseClickJoined(events: DataFrame, joinType: String): DataFrame = {
    // Watermark BEFORE the event-type filters: the global watermark is
    // the min across all watermark operators, and each operator tracks
    // max event time over ITS OWN input. Filter-then-watermark would
    // give each branch the max of just its type's rows, dragging the
    // global watermark back to the rarer type's last event (hours on
    // sparse types) — batch-identical for the inner join but starving
    // the outer join of eviction (observed: null rows stop hours short
    // of the horizon). Watermark-then-filter keeps both operators fed
    // by the full stream; the alias carries the watermark tag.
    val wmEvents = events.withWatermark("ts", "10 minutes")
    val clicksWm = wmEvents.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
    val purchases = wmEvents.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    purchases.join(clicksWm, expr(
      """c_user = user_id
        |AND c_ts >= ts - INTERVAL 10 MINUTES
        |AND c_ts < ts""".stripMargin), joinType)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("c_ts"), col("c_value"))
  }

  /** Drain the interval join over `dir` into a memory sink table. */
  def runIntervalJoin(spark: SparkSession, dir: String, tableName: String): StreamingQuery =
    drain(purchaseClickJoin(source(spark, dir)), tableName)

  /** q49 — the STREAMING window operator itself under the driver's
    * hash gate (not just its batch twin q27): a drained AvailableNow run
    * of [[windowedRates]], restricted to windows strictly inside the
    * final watermark horizon. Append mode emits a window once the
    * watermark (ms-floored max event time − 10 min) passes its end; the
    * strict `end < watermark` filter is applied on BOTH the drained
    * result and the oracle, so the gate is insensitive to the ≤/< edge
    * of Spark's internal eviction predicate while still proving the
    * watermark pipeline computes exactly the batch aggregation.
    */
  def streamedRates(spark: SparkSession, dir: String): DataFrame = {
    runAvailableNow(spark, dir, "graft_q49_sink")
    horizonFiltered(spark, dir, "graft_q49_sink")
  }

  /** Shared q49/q79 tail: restrict a drained window-rate sink to the
    * windows strictly inside the final watermark horizon (one
    * metadata-scale max-ts row collected to compute the horizon).
    */
  private def horizonFiltered(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    import graft.sources.Tables
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - WatermarkMs) * 1000
    spark.table(table)
      .filter(unix_micros(col("window_start")) + WindowUs < wmUs)
      .select("window_start", "event_type", "n_events", "sum_value")
      .orderBy("window_start", "event_type")
  }

  /** q187 — alert when one user lands this many events in one hour
    * window (3 exercises both paths at every fixture sf; the batch
    * q181 audit sizes the production value).
    */
  val StreamBurstPerHour = 3L
  private val HourUs = 3600L * 1000000

  /** q187 — streaming BURST-ALERT drain: the real-time leg of q181's
    * bot/automation audit — per (hour window, user) event counts over a
    * watermarked tumbling window, alerting where a single user's hour
    * reaches [[StreamBurstPerHour]] events, drained under AvailableNow
    * through the same memory-sink + horizon-filter discipline as q49.
    * Batch q181 is the forensic audit; this is the online monitor that
    * flags the feed while it is still ingesting (quarantine-before-
    * training instead of scrub-after).
    *
    * Scale shape: watermark-evicted (user, hour) counter state — one
    * compact entry per active pair inside the 10-minute horizon; the
    * alert filter runs on finalized append-mode rows, so the sink
    * carries alerts only, never the per-user counter stream.
    */
  def streamedBurstAlerts(spark: SparkSession, dir: String): DataFrame = {
    val alerts = source(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= StreamBurstPerHour)
      .select(col("win.start").as("hour_start"), col("user_id"),
        col("n_events"))
    drain(alerts, "graft_q187_sink")
    import graft.sources.Tables
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - WatermarkMs) * 1000
    spark.table("graft_q187_sink")
      .filter(unix_micros(col("hour_start")) + HourUs < wmUs)
      .orderBy("hour_start", "user_id")
  }

  /** 1 in [[ReplayMod]] event ids is re-delivered verbatim in the q79
    * fixture — the at-least-once duplicate a real event bus produces.
    * Hash-picked by stable event_id, never rand(): the replay set must
    * not move between runs or repartitions (the q45 discipline).
    */
  val ReplayMod = 5

  /** q79 — the stream-dedup stage under the driver's hash gate, proven
    * against PLANTED duplicates: the source unioned with an exact
    * replay of 1 in [[ReplayMod]] events flows through the SAME
    * watermarked `dropDuplicatesWithinWatermark` + window pipeline as
    * q49 and must produce identical windows, because every replayed row
    * is an exact copy of an event_id inside the lateness horizon. q49
    * gates the aggregation but its fixture event_ids are unique, so
    * there the dedup state never fires; here a silently-broken dedup
    * inflates 1-in-[[ReplayMod]] counts and the hash gate catches it.
    * The oracle is the q49 text over the raw table.
    *
    * Scale shape: dedup state is one compact entry per event_id within
    * the 10-minute horizon, watermark-evicted — exactly the bound an
    * unbounded at-least-once feed needs; the replay branch is a second
    * map-side read of the same files, no extra shuffle before the
    * window aggregation.
    */
  def streamedDedupRates(spark: SparkSession, dir: String): DataFrame = {
    val src = source(spark, dir)
    val replayed = src.filter(graft.functions.TextFns.hash32(
      concat(lit("replay|"), col("event_id").cast("string"))) % ReplayMod === 0)
    drain(windowedRates(src.unionByName(replayed)), "graft_q79_sink")
    horizonFiltered(spark, dir, "graft_q79_sink")
  }

  private val WatermarkMs = 10L * 60 * 1000
  private val WindowUs = 5L * 60 * 1000000
  private val GapMs = Sessionize.GapMinutes * 60 * 1000

  /** q86 — the STREAMING sessionize drain under the driver's hash gate:
    * [[Sessionize.sessions]] (flatMapGroupsWithState, event-time
    * timeouts) run as an actual watermarked stream under AvailableNow,
    * not just in batch mode as q37 does. Sessions close two ways here —
    * an in-stream ≥30-min gap, or the event-time timeout once the final
    * watermark passes `last + gap` — and both paths land in the sink.
    *
    * Gate discipline (the q49 horizon filter, adapted): both sides keep
    * only sessions whose close instant `end_ms + gap` sits STRICTLY
    * inside the final watermark (ms-floored max event time − 10 min).
    * Any such session is guaranteed emitted regardless of how it closed
    * — a gap-closing successor event can only exist at `> end + gap`,
    * and absent one the timeout (`(last_us + gap_us) div 1000`, equal to
    * `end_ms + gap` since the gap is a whole number of ms) fires under
    * either the < or ≤ edge of Spark's eviction predicate. Sessions on
    * or past the horizon are dropped on BOTH sides, so the gate is
    * insensitive to that edge and to open-trailing-session timing.
    */
  def streamedSessions(spark: SparkSession, dir: String): DataFrame = {
    val src = source(spark, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    drain(Sessionize.sessions(src).toDF(), "graft_q86_sink")
    import graft.sources.Tables
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmMs = maxUs / 1000 - WatermarkMs
    spark.table("graft_q86_sink")
      .filter(unix_millis(col("session_end")) + GapMs < wmMs)
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .orderBy("user_id", "session_start")
  }

  /** q50 — the watermarked stream-stream interval join under the
    * driver's hash gate: inner joins emit matches as they form, so a
    * drained run equals the batch inequality join row-for-row.
    */
  def streamedRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    runIntervalJoin(spark, dir, "graft_q50_sink")
    spark.table("graft_q50_sink")
      .orderBy("event_id", "c_ts", "c_value")
  }

  /** q93 — the watermarked stream-stream LEFT OUTER interval join under
    * the driver's hash gate: the one stream-stream join class q50's
    * inner join does not exercise. Outer results are what make join
    * state eviction OBSERVABLE — a null-augmented purchase row may only
    * emit once the click-side watermark proves no matching click can
    * still arrive, so a broken eviction either drops the row forever or
    * emits it early alongside a later real match; either way the hash
    * gate catches it.
    *
    * Gate discipline (the q49 horizon filter): both sides keep only
    * purchases with `ts + 10 min` strictly inside the final watermark
    * (ms-floored max event time − 10 min) — a full watermark-delay
    * margin past the eviction instant, so the compare is insensitive to
    * the ≤/< edge of Spark's state-cleanup predicate and to which
    * micro-batch boundary the null row lands on. AvailableNow runs the
    * extra no-new-data batch stateful operators request, so trailing
    * outer rows inside the horizon do flush before the drain ends.
    *
    * Scale shape: state is watermark-bounded on both sides (clicks
    * older than the purchase watermark minus the 10-min window are
    * evicted, purchases once the click watermark passes their ts); the
    * drained run equals the batch left join restricted to the same
    * horizon, which is exactly the oracle text.
    */
  def streamedLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    drain(purchaseClickLeftJoin(source(spark, dir)), "graft_q93_sink")
    import graft.sources.Tables
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmMs = maxUs / 1000 - WatermarkMs
    // margin = 2 watermark delays below the final watermark: one for the
    // range-extended state bound (outer rows flush once the watermark
    // passes ts + the 10-min join window), one clear of the eviction
    // predicate's ≤/< edge
    spark.table("graft_q93_sink")
      .filter(unix_millis(col("ts")) + 2 * WatermarkMs < wmMs)
      .select("event_id", "user_id", "ts", "c_ts", "c_value")
      .orderBy("event_id", "c_ts", "c_value")
  }

  /** q114 static dimension: per-user lifetime-value tier (quartile
    * thresholds over the exact DECIMAL spend totals). Batch-computed,
    * user-cardinality, broadcast — the slowly-changing enrichment dim
    * a streaming pipeline joins against.
    */
  def userTiers(spark: SparkSession, dir: String): DataFrame =
    userTiersFrom(graft.sources.Tables.events(spark, dir))

  def userTiersFrom(events: DataFrame): DataFrame = {
    val u = events.groupBy("user_id")
      .agg(sum(col("value").cast(DecimalType(12, 2))).cast("double").as("tv"))
    val th = u.agg(percentile(col("tv"), lit(0.5)).as("m"),
      percentile(col("tv"), lit(0.75)).as("h"))
    u.crossJoin(broadcast(th)).select(col("user_id"),
      when(col("tv") >= col("h"), "high")
        .when(col("tv") >= col("m"), "mid")
        .otherwise("low").as("tier"))
  }

  /** Watermarked windowed rates per STATIC user tier: the stream-static
    * enrichment join (broadcast dim attached before the aggregation).
    */
  def enrichedRates(events: DataFrame, tiers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(tiers), "user_id")
      .groupBy(window(col("ts"), "5 minutes").as("win"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("win.start").as("window_start"), col("tier"),
        col("n_events"), col("sum_value"))

  /** q114 — the STREAM-STATIC join class under the driver's hash gate:
    * q49/q50/q93 cover stateful windows and stream-stream joins; this
    * covers the third join planning class — a static broadcast dim
    * joined into an unbounded stream. No join state at all (the static
    * side is re-broadcast per micro-batch, which is also the scale
    * posture: dim snapshots refresh between batches, the stream side
    * never buffers for the join), and the watermark flows THROUGH the
    * join into the window aggregate. Gate discipline = q49's horizon
    * filter on the drained sink.
    */
  def streamedEnrichedRates(spark: SparkSession, dir: String): DataFrame =
    streamedEnrichedRatesOf(spark, dir, userTiers(spark, dir))

  /** [[streamedEnrichedRates]] over an explicit (typically MATERIALIZED)
    * tier dimension — the production read pattern: the slowly-changing
    * dim is a batch-maintained snapshot table, so each micro-batch
    * re-broadcasts a cheap scan of it, not a recomputed aggregate +
    * percentile pass over the fact history (which the self-contained
    * gate form pays per batch for self-containment).
    */
  def streamedEnrichedRatesOf(spark: SparkSession, dir: String,
      tiers: DataFrame): DataFrame = {
    drain(enrichedRates(source(spark, dir), tiers), "graft_q114_sink")
    import graft.sources.Tables
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - WatermarkMs) * 1000
    spark.table("graft_q114_sink")
      .filter(unix_micros(col("window_start")) + WindowUs < wmUs)
      .select("window_start", "tier", "n_events", "sum_value")
      .orderBy("window_start", "tier")
  }

  /** Best-first order for the streaming top-k state: highest value,
    * then lowest event_id (total order — deterministic under ties).
    */
  private val TopKOrd: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)](p => (-p._2, p._1))

  /** Events kept per user by the streaming top-k (same k as batch q35's
    * fixture so the two gates describe the same answer shape).
    */
  val StreamTopK = 3

  /** q65 — the typed bounded top-k [[TopKAgg]] under the driver's hash
    * gate, as a STREAMING aggregation: a complete-mode AvailableNow
    * drain of `groupByKey(user).agg(TopKAgg(3))` over the event stream,
    * flattened to (user_id, event_id, value, rank) rows.
    *
    * Why this exists next to batch q35: the physical shuffle-limit
    * operator (`plans.TopKPerKey`) cannot run inside a streaming
    * aggregation — state must be MERGEABLE across micro-batches — so
    * the streaming path rides the Aggregator whose buffer is the bound
    * (≤ k elements per key in state and on every shuffle, O(keys·k)
    * state regardless of stream volume). A drained complete-mode run
    * over a static source equals the batch window answer exactly, which
    * is what the shared oracle asserts.
    */
  def streamedTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val agg = new TopKAgg[(Long, Double)](StreamTopK)(TopKOrd, implicitly)
    val typed = source(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("top"))
      .toDF("user_id", "top")
    drain(typed, "graft_q65_sink", OutputMode.Complete)
    spark.table("graft_q65_sink")
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), col("col._1").as("event_id"),
        col("col._2").as("value"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy("user_id", "rank")
  }

  /** q146 — STREAMING KMV distinct-user sketch per event type: the
    * mergeable-sketch state class (q138's rollup discipline living IN
    * streaming state). `groupByKey(type).agg(KmvAgg(k))` holds the k
    * smallest distinct user hashes per type — O(types·k) state and
    * shuffle regardless of stream volume, where an exact streaming
    * `count(DISTINCT)` would hold every user id ever seen. The drained
    * complete-mode run equals the batch KMV of the same corpus exactly
    * (the merge identity), which is what the shared oracle asserts;
    * the exact distinct count rides alongside as the batch-side error
    * gauge (q121 discipline).
    */
  def streamedSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFns
    val agg = new KmvAgg(graft.operators.Analytics.SkK)
    val typed = source(spark, dir)
      .select(col("event_type"),
        TextFns.hash60(concat(lit("sk|"), col("user_id").cast("string"))).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("kmins"))
      .toDF("event_type", "kmins")
    drain(typed, "graft_q146_sink", OutputMode.Complete)
    val exact = graft.sources.Tables.events(spark, dir)
      .groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
    spark.table("graft_q146_sink")
      .select(col("event_type"), size(col("kmins")).cast("long").as("n_k"),
        element_at(col("kmins"), size(col("kmins"))).as("kth_min"))
      .join(broadcast(exact), Seq("event_type"))
      .select(col("event_type"), col("n_k"), col("kth_min"),
        TextFns.kmvEstimate(col("n_k"), col("kth_min"),
          graft.operators.Analytics.SkK).as("est_distinct"),
        col("n_exact"))
      .orderBy("event_type")
  }

  /** q211 — STREAMING HyperLogLog distinct-user registers per event
    * type (q201's sketch living in streaming state, the way KMV lives
    * there as q146): `groupByKey(type).agg(HllAgg(64))` holds exactly
    * 64 register ints per type — O(types·m) state and shuffle no matter
    * how many events flow, where exact streaming `count(DISTINCT)`
    * would hold every user id ever seen. The drained complete-mode
    * registers are fed to the SAME estimator as the batch form
    * (Events.hllReport — per-type rows plus the register-merged `ALL`
    * row), and the shared q201 oracle asserts the drained stream equals
    * the batch sketch EXACTLY: the element-wise-max merge identity,
    * across micro-batches this time instead of partitions.
    */
  def streamedHll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFns
    val agg = new HllAgg(graft.operators.Events.HllM)
    val typed = source(spark, dir)
      .select(col("event_type"),
        TextFns.hash60(concat(lit("hll|"), col("user_id").cast("string"))).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("regs"))
      .toDF("event_type", "regs")
    drain(typed, "graft_q211_sink", OutputMode.Complete)
    // register file → present-register relation (reg ≥ 1), then the
    // shared batch estimator + exact audit counts
    val reg = spark.table("graft_q211_sink")
      .select(col("event_type"), posexplode(col("regs")).as(Seq("bucket", "reg")))
      .filter(col("reg") > 0)
      .select(col("event_type"), col("bucket").cast("long").as("bucket"),
        col("reg"))
    graft.operators.Events.hllReport(reg,
      graft.operators.Events.hllExactOf(
        graft.sources.Tables.events(spark, dir)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q211_stream_hll" -> (streamedHll _),
    "q146_stream_sketch" -> (streamedSketch _),
    "q49_stream_rates" -> (streamedRates _),
    "q187_stream_burst" -> (streamedBurstAlerts _),
    "q50_stream_range_join" -> (streamedRangeJoin _),
    "q93_stream_left_join" -> (streamedLeftJoin _),
    "q65_stream_topk" -> (streamedTopK _),
    "q79_stream_dedup" -> (streamedDedupRates _),
    "q86_stream_sessions" -> (streamedSessions _),
    "q114_stream_enrich" -> (streamedEnrichedRates _))

  /** Shared q49/q79 reference text: same horizon arithmetic as
    * [[streamedRates]] — watermark = ms-floored max event time minus
    * 10 min; keep windows with end strictly below.
    */
  private val ratesOracle =
    """WITH wm AS (
      |  SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events),
      |agg AS (
      |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, event_type,
      |    count(*) AS n_events,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT a.window_start, a.event_type, a.n_events, a.sum_value
      |FROM agg a, wm
      |WHERE epoch_us(a.window_start) + 300000000 < wm.wm_us
      |ORDER BY a.window_start, a.event_type""".stripMargin

  val oracle: Map[String, String] = Map(
    // the batch q201 oracle VERBATIM: the drained complete-mode stream
    // must equal the batch sketch exactly (the register-merge identity
    // across micro-batches)
    "q211_stream_hll" -> graft.operators.Events.oracle("q201_hll_distinct"),
    "q49_stream_rates" -> ratesOracle,
    // q49's horizon arithmetic over hour buckets; the alert threshold
    // filters finalized windows on both engines identically
    "q187_stream_burst" ->
      s"""WITH wm AS (
         |  SELECT (epoch_us(max(ts)) // 1000 - $WatermarkMs) * 1000 AS wm_us
         |  FROM events),
         |agg AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, user_id,
         |    count(*) AS n_events
         |  FROM events GROUP BY 1, 2)
         |SELECT a.hour_start, a.user_id, a.n_events
         |FROM agg a, wm
         |WHERE a.n_events >= $StreamBurstPerHour
         |  AND epoch_us(a.hour_start) + $HourUs < wm.wm_us
         |ORDER BY a.hour_start, a.user_id""".stripMargin,
    // the replayed duplicates must vanish, so the reference answer is
    // the SAME raw-table aggregation as q49 — a broken dedup inflates
    // 1-in-ReplayMod counts and hash-mismatches
    "q79_stream_dedup" -> ratesOracle,
    "q50_stream_range_join" ->
      """SELECT p.event_id, p.user_id, p.ts, c.ts AS c_ts, c.value AS c_value
        |FROM events p JOIN events c
        |  ON c.event_type = 'click' AND c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id, c_ts, c_value""".stripMargin,
    // the batch LEFT join restricted to the same purchase horizon the
    // drained stream keeps — null-augmented rows included
    "q93_stream_left_join" ->
      s"""WITH wm AS (
         |  SELECT epoch_us(max(ts)) // 1000 - $WatermarkMs AS wm_ms FROM events),
         |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id AS c_user, ts AS c_ts, value AS c_value
         |      FROM events WHERE event_type = 'click')
         |SELECT p.event_id, p.user_id, p.ts, c.c_ts, c.c_value
         |FROM p CROSS JOIN wm
         |LEFT JOIN c ON c.c_user = p.user_id
         |  AND c.c_ts >= p.ts - INTERVAL 10 MINUTE AND c.c_ts < p.ts
         |WHERE epoch_us(p.ts) // 1000 + ${2 * WatermarkMs} < wm.wm_ms
         |ORDER BY p.event_id, c_ts, c_value""".stripMargin,
    // q37's lag/cumulative-sum sessionization with the trailing-drop
    // replaced by the shared horizon filter: keep sessions whose close
    // instant (end + gap, ms-floored) is strictly inside the final
    // watermark — mirrored exactly in streamedSessions
    "q86_stream_sessions" ->
      s"""WITH wm AS (
         |  SELECT epoch_us(max(ts)) // 1000 - ${WatermarkMs} AS wm_ms FROM events),
         |ordered AS (
         |  SELECT user_id, ts, value, event_id,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |marked AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |    OR ts > prev_ts + INTERVAL ${Sessionize.GapMinutes} MINUTE THEN 1 ELSE 0 END AS new_s
         |  FROM ordered),
         |numbered AS (
         |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sess_no
         |  FROM marked),
         |sess AS (
         |  SELECT user_id, sess_no, min(ts) AS session_start, max(ts) AS session_end,
         |    CAST(count(*) AS INT) AS n_events, round(sum(value), 2) AS sum_value
         |  FROM numbered GROUP BY user_id, sess_no)
         |SELECT user_id, session_start, session_end, n_events, sum_value
         |FROM sess, wm
         |WHERE epoch_us(session_end) // 1000 + ${GapMs} < wm_ms
         |ORDER BY user_id, session_start""".stripMargin,
    // the q49 aggregation keyed by the static tier dim instead of
    // event_type — the thresholds are quantile_cont twins of the
    // engine's exact percentile (the q34 discipline)
    "q114_stream_enrich" ->
      """WITH wm AS (
        |  SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS wm_us FROM events),
        |u AS (
        |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS tv
        |  FROM events GROUP BY 1),
        |th AS (SELECT quantile_cont(tv, 0.5) AS m, quantile_cont(tv, 0.75) AS h FROM u),
        |tiers AS (
        |  SELECT user_id,
        |    CASE WHEN tv >= h THEN 'high' WHEN tv >= m THEN 'mid' ELSE 'low' END AS tier
        |  FROM u, th),
        |agg AS (
        |  SELECT time_bucket(INTERVAL '5 minutes', e.ts) AS window_start, t.tier,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |  FROM events e JOIN tiers t USING (user_id) GROUP BY 1, 2)
        |SELECT a.window_start, a.tier, a.n_events, a.sum_value
        |FROM agg a, wm
        |WHERE epoch_us(a.window_start) + 300000000 < wm.wm_us
        |ORDER BY a.window_start, a.tier""".stripMargin,
    // the drained complete-mode sketch equals the batch KMV exactly
    // (k-min merge identity); estimator restated per q39's dialect
    "q146_stream_sketch" -> {
      val k = graft.operators.Analytics.SkK
      s"""WITH u AS (
         |  SELECT DISTINCT event_type,
         |    CAST(('0x' || substring(md5('sk|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |mk AS (
         |  SELECT event_type, h FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY event_type ORDER BY h) AS rn FROM u) x
         |  WHERE rn <= $k),
         |sk AS (SELECT event_type, count(*) AS n_k, max(h) AS kth_min
         |  FROM mk GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT sk.event_type, sk.n_k, sk.kth_min,
         |  CASE WHEN sk.n_k < $k THEN CAST(sk.n_k AS DOUBLE)
         |       ELSE ${(graft.operators.Analytics.SkK - 1).toDouble * 1152921504606846976.0} / CAST(sk.kth_min AS DOUBLE)
         |  END AS est_distinct,
         |  ex.n_exact
         |FROM sk JOIN ex ON ex.event_type = sk.event_type
         |ORDER BY sk.event_type""".stripMargin
    },
    // the drained complete-mode stream equals the batch window top-k
    "q65_stream_topk" ->
      s"""WITH rk AS (
         |  SELECT user_id, event_id, value, row_number() OVER
         |    (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
         |  FROM events)
         |SELECT user_id, event_id, value, CAST(rn AS INT) AS rank
         |FROM rk WHERE rn <= $StreamTopK ORDER BY user_id, rank""".stripMargin)
}
