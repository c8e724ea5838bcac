package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.synth.TranscriptGen

/** Input generation. Only the benchmark's seed and sizes decide the inputs;
  * the program receives the generated transcript table and nothing else.
  *
  * The events table has the columns `TranscriptGen` reads (event_id, ts,
  * user_id, event_type) plus value/props, like the driver-generated sf
  * tables. Its content is a fixed arithmetic function of the row index, so
  * triple and node counts are pinned. The seed picks the prefix ("salt")
  * of every `conv_id`, which moves conversations between hash buckets and
  * partitions without changing the graph's shape.
  */
object Inputs {

  /** 50k events over 750 conversations: half the sf0.1 table. */
  val Events = 50000L
  val Users = 750L
  /** 2024-01-01T00:00:00Z; events are 26 s apart on average. */
  private val T0 = 1704067200L
  private val EventTypes = Array("signup", "purchase", "view", "error", "click")

  def writeEvents(spark: SparkSession, sfDir: String, n: Long): Unit = {
    val id = col("id")
    spark.range(0, n, 1, 4).select(
      id.as("event_id"),
      timestamp_seconds(lit(T0) + id * 26 + pmod(xxhash64(id, lit(3L)), lit(26L))).as("ts"),
      pmod(xxhash64(id, lit(1L)), lit(Users)).as("user_id"),
      element_at(typedLit(EventTypes),
        (pmod(xxhash64(id, lit(2L)), lit(EventTypes.length.toLong)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(id, lit(4L)), lit(20000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64(id, lit(5L)), lit(100L)).cast("string"),
        lit("}")).as("props"))
      .write.parquet(s"$sfDir/events.parquet")
  }

  /** Fixed-length conv_id prefix drawn from the seed. */
  def salt(seed: Long): String =
    f"s${new scala.util.Random(seed).nextInt() & 0x7fffffff}%08x/"

  /** Generate `events` events under `root`, synthesize their transcripts
    * with the program's `TranscriptGen`, prefix every conv_id with `salt`
    * and write the table to `dir`. */
  def writeTurns(spark: SparkSession, root: String, dir: String, salt: String,
      events: Long): Unit = {
    writeEvents(spark, s"$root/events", events)
    TranscriptGen.transcripts(spark, s"$root/events")
      .withColumn("conv_id", concat(lit(salt), col("conv_id")))
      .repartition(2 * spark.sparkContext.defaultParallelism)
      .write.parquet(dir)
  }
}
