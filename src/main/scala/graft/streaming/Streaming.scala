package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Structured Streaming surface — beyond reference parity (the reference
  * has zero streaming, README.md:398-400 lists it as a future enhancement;
  * SURVEY §2.9). Mirrors the batch EventOps semantics so a pipeline can be
  * promoted from batch to incremental without changing results:
  *  - tumbling windows + watermark (late data dropped after 1 hour)
  *  - built-in session windows (gap-close semantics ≡ EventOps.sessionize)
  *  - custom per-key state via mapGroupsWithState
  *
  * Scale: streaming aggregations shuffle by (window, key) with state in the
  * HDFS/RocksDB state store; watermarks bound state size — without one, a
  * 100 TB/day stream accretes state forever.
  */
object Streaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class UserStats(user_id: Long, n_events: Long, total_value: Double,
                             last_ts: Timestamp)

  /** File-based incremental source over an events directory (new parquet
    * files picked up per micro-batch; `maxFilesPerTrigger` bounds batch
    * size at scale).
    */
  def readEventStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling 1-hour counts per event type with a 1-hour watermark —
    * the streaming twin of EventOps.tumblingWindow.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("approx_users"))

  /** Built-in session windows (30-minute gap) — the streaming twin of
    * EventOps.sessionize.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Custom keyed state: running per-user totals via mapGroupsWithState
    * (Update mode). The state survives across micro-batches; a processing-
    * time timeout would expire idle users in production.
    */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(
            UserStats(userId, 0L, 0.0, new Timestamp(0L)))
          val updated = batch.foldLeft(prev) { (acc, e) =>
            UserStats(userId, acc.n_events + 1, acc.total_value + e.value,
              if (e.ts.after(acc.last_ts)) e.ts else acc.last_ts)
          }
          state.update(updated)
          updated
      }
  }

  /** Streaming exact dedup on event_id with WATERMARK-BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps only ids seen inside the
    * watermark horizon, so state is O(events/hour), not O(all history) —
    * the difference between a dedup that runs forever on a 100 TB/day
    * stream and one that OOMs the state store. (Plain `dropDuplicates`
    * on a stream never expires its keys.)
    */
  def dedupStream(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-STREAM interval join: attribute each `effectType` event to the
    * `causeType` events of the same user within `within` before it —
    * click→purchase attribution, impression→conversion, etc. Both sides
    * carry watermarks and the join condition bounds event-time distance,
    * so the state store provably expires rows older than watermark +
    * interval (an unbounded stream-stream join would buffer both streams
    * forever). State partitions by user_id; per-key state is O(events in
    * the interval window), independent of stream length.
    */
  def attributeConversions(events: DataFrame, causeType: String,
                           effectType: String,
                           within: String = "10 minutes",
                           lateness: String = "1 hour"): DataFrame = {
    val cause = events.filter(col("event_type") === causeType)
      .select(col("user_id"), col("event_id").as("cause_id"),
        col("ts").as("cause_ts"))
      .withWatermark("cause_ts", lateness)
    val effect = events.filter(col("event_type") === effectType)
      .select(col("user_id").as("e_user_id"), col("event_id").as("effect_id"),
        col("ts").as("effect_ts"))
      .withWatermark("effect_ts", lateness)
    cause.join(effect,
      col("user_id") === col("e_user_id") &&
        col("effect_ts") >= col("cause_ts") &&
        col("effect_ts") <= col("cause_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("cause_id"), col("effect_id"),
        col("cause_ts"), col("effect_ts"))
  }

  /** Stream-static enrichment join: the static dimension side is re-read
    * per micro-batch and broadcast (no stream-side shuffle, no state).
    * The standard shape for decorating an event stream with slowly-changing
    * reference data.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")
}
