package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions.{col, lit}
import graft.analysis.GraphAnalytics
import graft.extract.Extract
import graft.link.Link
import graft.synth.Dict

/** Physical-plan shape assertions — the 100-TB design claims, checked
  * against `explain` output rather than asserted in prose:
  *
  *  - the extract stage reads ONLY the columns it needs from the parquet
  *    scan (column pruning reaches `ReadSchema`);
  *  - person linking is broadcast-only on the fact side: both the exact
  *    block join and the contains fallback broadcast the dimension, and no
  *    corpus-sized sort-merge join or fact-side exchange appears;
  *  - the graph analyses keep their job-saving shapes: coDiscussion has no
  *    join, and one pageRank round is one join plus one aggregate (counted
  *    in the optimized logical plan, which AQE does not rewrite).
  *
  * Complements MaterializeCheckpointSpec's PartitionFilters assertion on
  * the upsert read path.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = new Timestamp(1700000000000L + i * 60000L)

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val turnsPath = {
    val dir = java.nio.file.Files.createTempDirectory("plan-turns").toString
    Seq(
      ("c1", 0, "member", "De voorzitter geeft het woord aan Anna Jansen", null.asInstanceOf[String], ts(0)),
      ("c1", 1, "member", "Mevrouw Jansen spreekt over dossier 36001 nr. 2", null.asInstanceOf[String], ts(1)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("extract scan prunes columns: ReadSchema excludes unused 'tool'") {
    val p = plan(Extract.speakerMentions(spark.read.parquet(turnsPath)))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty, s"no ReadSchema in plan:\n$p")
    assert(!readSchema.contains("tool"), s"scan reads unused column 'tool': $readSchema")
    assert(readSchema.contains("text") && readSchema.contains("conv_id"))
  }

  test("person linking is broadcast-only: no sort-merge join, no fact-side shuffle join") {
    val p = plan(Link.linkPersons(
      Extract.speakerMentions(spark.read.parquet(turnsPath)), Dict.personsDf(spark)))
    assert(p.contains("Broadcast"), s"no broadcast join in link plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join in link plan:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"shuffled join in link plan:\n$p")
  }

  test("graph degrees is join-free: two map-side-combined aggs, two exchanges") {
    val t = Seq(("a", "P", "b"), ("c", "P", "b")).toDF("subj", "pred", "obj")
    val p = plan(graft.analysis.GraphAnalytics.degrees(t))
    assert(!p.contains("Join"), s"join in degrees plan:\n$p")
    // partial aggregation before each exchange (map-side combine)
    assert(p.contains("partial_sum") || p.contains("partial"), s"no partial agg:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"degrees plan has $exchanges exchanges (expect <=2):\n$p")
  }

  private def countNodes(df: DataFrame): (Int, Int) = {
    val p = df.queryExecution.optimizedPlan
    (p.collect { case j: Join => j }.size, p.collect { case a: Aggregate => a }.size)
  }

  test("coDiscussion is join-free: pairs are enumerated inside the per-zaak set") {
    val t = Seq(("p1", "DISCUSSES_ZAAK", "z1"), ("p2", "DISCUSSES_DOSSIER", "z1"),
      ("p3", "DISCUSSES_ZAAK", "z1")).toDF("subj", "pred", "obj")
    val df = GraphAnalytics.coDiscussion(t)
    assert(countNodes(df)._1 == 0, s"join in coDiscussion plan:\n${df.queryExecution.optimizedPlan}")
  }

  test("one pageRank round over checkpointed inputs is one Join and one Aggregate") {
    val edges = graft.util.Ckpt(Seq(("a", "b", 1L), ("b", "a", 2L), ("b", "c", 2L))
      .toDF("subj", "obj", "out_deg"))
    val nodes = Seq("a", "b", "c").toDF("node")
    val zeros = graft.util.Ckpt(nodes.select(col("node"), lit(0L).as("share")))
    val ranks = graft.util.Ckpt(nodes.select(col("node"), lit(7L).as("rank_fp")))
    val round = GraphAnalytics.rankRound(edges, zeros, ranks, 5L)
    assert(countNodes(round) == ((1, 1)),
      s"round plan:\n${round.queryExecution.optimizedPlan}")
  }

  test("the WHOLE canonical-triple plan contains no shuffle join (broadcast dims only)") {
    // r3: the discusses derivation is join-free (the co-row zaak link rides
    // the argmax as carry columns), so the only joins left anywhere in the
    // end-to-end canonical plan are broadcast dimension joins — at corpus
    // scale there is NO fact×fact shuffle join in the whole derivation
    val stages = graft.pipeline.Pipeline.build(spark,
      spark.read.parquet(turnsPath))
    val p = plan(stages.canonical)
    assert(p.contains("Broadcast"), s"no broadcast join in canonical plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join in canonical plan:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"shuffled join in canonical plan:\n$p")
  }
}
