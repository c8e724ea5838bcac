package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.streaming.Trigger
import graft.materialize.Materialize
import graft.pipeline.Pipeline
import graft.streaming.StreamingPipeline

/** Incremental streaming parity: drained stream = batch run; resume skips
  * already-processed files; watermark/windowed aggregation runs as a stream.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(1700000000000L + i * 60000L)

  private def turnsDf(convOffset: Int, n: Int) =
    (0 until n).flatMap { c =>
      Seq(
        (s"c${convOffset + c}", 0, "chair",
          "De voorzitter geeft het woord aan Anna Jansen", null: String, ts(0)),
        (s"c${convOffset + c}", 1, "member",
          "Mevrouw Jansen spreekt over dossier 36001 nr. 2", null: String, ts(1)),
        (s"c${convOffset + c}", 2, "member",
          "De fractie Volkspartij stemt voor", null: String, ts(2)))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def edgeSet(wh: String): Set[String] =
    Materialize.readEdges(spark, wh).collect()
      .map(_.mkString("|")).toSet

  test("AvailableNow drain produces the same graph as the batch pipeline") {
    val in = Files.createTempDirectory("stream-in").toString
    val whStream = Files.createTempDirectory("stream-wh").toString + "/w"
    val whBatch = Files.createTempDirectory("batch-wh").toString + "/w"
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    val all = turnsDf(0, 4)
    // two input files -> two micro-batches (maxFilesPerTrigger=1)
    turnsDf(0, 2).coalesce(1).write.parquet(in + "/f1.parquet")
    turnsDf(2, 2).coalesce(1).write.parquet(in + "/f2.parquet")

    StreamingPipeline.runIncremental(spark, in, whStream, ckpt)
    Materialize.writeGraph(spark, whBatch,
      Pipeline.build(spark, all).canonicalCompact)

    assert(edgeSet(whStream) == edgeSet(whBatch))
    assert(edgeSet(whStream).nonEmpty)
  }

  test("resume from checkpoint processes only new files; graph stays correct") {
    val in = Files.createTempDirectory("stream-in2").toString
    val wh = Files.createTempDirectory("stream-wh2").toString + "/w"
    val whFull = Files.createTempDirectory("batch-wh2").toString + "/w"
    val ckpt = Files.createTempDirectory("stream-ckpt2").toString

    turnsDf(0, 2).coalesce(1).write.parquet(in + "/f1.parquet")
    StreamingPipeline.runIncremental(spark, in, wh, ckpt)
    val afterFirst = edgeSet(wh)

    // new file arrives; resume drains ONLY it (offset log skips f1)
    turnsDf(10, 2).coalesce(1).write.parquet(in + "/f2.parquet")
    StreamingPipeline.runIncremental(spark, in, wh, ckpt)

    val full = {
      val allTurns = spark.read
        .schema(StreamingPipeline.turnSchema)
        .option("recursiveFileLookup", "true").parquet(in)
      Materialize.writeGraph(spark, whFull, Pipeline.build(spark, allTurns).canonicalCompact)
      edgeSet(whFull)
    }
    assert(edgeSet(wh) == full)
    assert(afterFirst.subsetOf(full) && afterFirst != full)
  }

  test("watermarked windowed vote counts run as a streaming query") {
    val in = Files.createTempDirectory("stream-in3").toString
    turnsDf(0, 3).coalesce(1).write.parquet(in + "/f1.parquet")
    val stream = spark.readStream
      .schema(StreamingPipeline.turnSchema)
      .option("recursiveFileLookup", "true").parquet(in)
    val q = StreamingPipeline.windowedVoteCounts(stream)
      .writeStream.format("memory").queryName("vote_windows")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode only emits windows closed by the watermark; with a single
    // drain nothing may close — assert the query ran and the plan is stateful
    assert(q.lastProgress != null)
    val complete = StreamingPipeline.windowedVoteCounts(turnsDf(0, 3))
      .collect()
    assert(complete.length == 1 && complete.head.getAs[Long]("n_votes") == 3)
  }
}
