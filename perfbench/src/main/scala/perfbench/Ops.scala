package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.GraphAnalytics
import graft.checkpoint.Checkpoint
import graft.materialize.Materialize
import graft.model.MatchType
import graft.pipeline.Pipeline

/** The program calls one operation makes, in `GraftApp`'s order, with a
  * `Tracer` marking the layer boundaries. Only public functions that
  * `GraftApp` calls, plus `GraphAnalytics`, are used.
  */
object Ops {

  /** GraftApp's configuration snapshot for lineage rows. */
  val ConfigHash: String = Checkpoint.configHash(
    "dict" -> graft.synth.Dict.Version,
    "nbuckets" -> Materialize.NBuckets.toString,
    "conv-buckets" -> Checkpoint.DefaultBuckets.toString)

  final case class LoadResult(triples: Long, linked: Long, exact: Long, fused: Boolean,
      stages: Pipeline.Stages)

  /** `GraftApp`'s first run on an empty warehouse: build, fused graph
    * write, lineage, link counters. */
  def load(spark: SparkSession, tr: Tracer, turns: DataFrame, warehouse: String,
      runId: String): LoadResult = {
    tr.enter("extract")
    val stages = Pipeline.build(spark, turns, observeLink = tr.linkHook)
    tr.enter("triples")
    val fused = !Materialize.graphExists(spark, warehouse)
    val compact = tr.force(stages.canonicalCompact, "triples")
    tr.enter("materialize")
    val n = Materialize.writeGraphFused(spark, warehouse, compact)
    tr.addRows("materialize", n)
    tr.enter("checkpoint")
    Checkpoint.recordProcessed(spark, s"$warehouse/lineage", runId, "pipeline", turns,
      "conv_id", configHash = ConfigHash)
    tr.enter("link")
    val linkRow = stages.linkedPersons.agg(
      count(lit(1)).as("n_linked"),
      sum(when(col("match_type") === MatchType.Exact, 1L).otherwise(0L)).as("n_exact"))
      .head()
    tr.stop()
    LoadResult(n, linkRow.getLong(0), linkRow.getLong(1), fused, stages)
  }

  /** The warehouse edges as the (subj, pred, obj) triples the analytics read. */
  def edgeTriples(spark: SparkSession, warehouse: String): DataFrame =
    Materialize.readEdges(spark, warehouse)
      .select(col("src_key").as("subj"), col("rel_type").as("pred"), col("dst_key").as("obj"))

  /** One pass of the four graph analyses over the warehouse edges (narrowed
    * by `restrict`); returns (rows, column sum) of each result by name. */
  def analyses(spark: SparkSession, tr: Tracer, warehouse: String,
      restrict: DataFrame => DataFrame = identity): Map[String, (Long, Long)] = {
    tr.enter("materialize")
    val triples = tr.force(restrict(edgeTriples(spark, warehouse)), "materialize")
    def run(name: String, df: => DataFrame, value: String): (String, (Long, Long)) = {
      tr.enter(s"analysis.$name")
      val r = df.agg(count(lit(1)), coalesce(sum(col(value)), lit(0L))).head()
      name -> (r.getLong(0), r.getLong(1))
    }
    val summary = Map(
      run("degrees", GraphAnalytics.degrees(triples), "degree"),
      run("two_hop", GraphAnalytics.twoHopReach(triples), "reach2"),
      run("triangles", GraphAnalytics.triangles(triples), "n_triangles"),
      run("pagerank", GraphAnalytics.pageRank(triples, 10), "rank_fp"))
    tr.stop()
    summary
  }
}
