package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.canonicalize.Canonicalize
import graft.checkpoint.Checkpoint
import graft.materialize.Materialize
import graft.pipeline.Pipeline
import graft.synth.{Dict, TranscriptGen}
import graft.triples.Triples

/** The graph writer over coded triples must produce EXACTLY the warehouse
  * the row-at-a-time `RowOracle` predicts — same edge rows, same node rows,
  * same bucket values, same count — on the real generator corpus
  * (speakers, cases, votes, interruptions all present), in both the
  * no-merge fast path and the persoon-merge rewrite path; and an
  * incremental load through the upsert path must equal a one-shot load.
  */
class FusedWriteSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def readBack(path: String): DataFrame =
    spark.read.parquet(path)

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    val l = a.select(cols: _*)
    val r = b.select(cols: _*)
    assert(l.exceptAll(r).isEmpty && r.exceptAll(l).isEmpty,
      s"$what differs from the expected rows")
  }

  private lazy val turns: DataFrame = TranscriptGen.transcripts(spark, sfDir)

  private lazy val stages: Pipeline.Stages = Pipeline.build(spark, turns)

  private lazy val oracleTriples: Set[(String, String, String)] =
    RowOracle.canonicalTriples(turns.select("conv_id", "turn_idx", "text").collect()
      .map(r => RowOracle.T(r.getString(0), r.getInt(1), r.getString(2))).toSeq)

  /** The expected (edges, nodes) tables of a triple set, bucket column
    * included, laid out with `nBuckets` hash buckets of the business key.
    */
  private def expectedTables(triples: Set[(String, String, String)],
      nBuckets: Int): (DataFrame, DataFrame) = {
    def label(c: String) = substring_index(col(c), ":", 1)
    def bucket(c: String) = pmod(xxhash64(col(c)), lit(nBuckets)).cast("int")
    val t = triples.toSeq.toDF("src_key", "rel_type", "dst_key")
    val edges = t.select(label("src_key").as("src_label"), col("src_key"),
      col("rel_type"), label("dst_key").as("dst_label"), col("dst_key"),
      bucket("src_key").as("bucket"))
    val nodes = triples.toSeq.flatMap(x => Seq(x._1, x._3)).distinct.toDF("key")
      .select(label("key").as("label"), col("key"), bucket("key").as("bucket"))
    (edges, nodes)
  }

  private def assertWarehouse(wh: String, n: Long,
      expected: Set[(String, String, String)], nBuckets: Int): Unit = {
    assert(n == expected.size, s"edge count $n, expected ${expected.size}")
    val (edges, nodes) = expectedTables(expected, nBuckets)
    assertSameRows(readBack(s"$wh/edges"), edges, "edges")
    assertSameRows(readBack(s"$wh/nodes"), nodes, "nodes")
  }

  test("fused write == row oracle (pipeline corpus, no-merge path)") {
    val wh = java.nio.file.Files.createTempDirectory("fused-eq").toString
    val n = Materialize.writeGraphFused(spark, wh,
      stages.canonicalCompact, nBuckets = 8, filesPerBucket = 2)
    assert(n > 0)
    assertWarehouse(wh, n, oracleTriples, 8)
  }

  test("fused write == row oracle under a persoon merge (rewrite path)") {
    // force a cross-entity merge: P01 canonicalizes into P00 — exercises
    // the compact rewrite joins AND the dedup of merge-collapsed rows
    val canonMap = Seq(
      ("persoon:P00", "persoon:P00"),
      ("persoon:P01", "persoon:P00")).toDF("node", "canon")
    val compact = Canonicalize.rewriteCompact(
      Triples.allNonMentionCompact(stages.linkedPersons, stages.linkedZaken,
        stages.votes, Dict.personsDf(spark), Dict.fractiesDf(spark)),
      canonMap, hasMerges = true)
    val wh = java.nio.file.Files.createTempDirectory("fused-merge").toString
    val n = Materialize.writeGraphFused(spark, wh, compact, nBuckets = 4)
    def merge(k: String) = if (k == "persoon:P01") "persoon:P00" else k
    val expected = oracleTriples.map { case (s, p, o) => (merge(s), p, merge(o)) }
    // the merge must actually have collapsed something: P01 gone, P00 present
    val srcs = readBack(s"$wh/edges").select("src_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!srcs.contains("persoon:P01") && srcs.contains("persoon:P00"))
    assertWarehouse(wh, n, expected, 4)
  }

  test("incremental load of the second half of the conversations == one-shot load") {
    val base = java.nio.file.Files.createTempDirectory("incr-eq").toString
    val oneShot = Materialize.writeGraph(spark, s"$base/full", stages.canonicalCompact)
    val half = Checkpoint.bucketOf(col("conv_id"), 2) === 0
    def load(wh: String, part: DataFrame): Long =
      Materialize.writeGraph(spark, wh, Pipeline.build(spark, part).canonicalCompact)
    val nFirst = load(s"$base/halves", turns.where(half))
    val nSecond = load(s"$base/halves", turns.where(!half))
    assert(nFirst > 0 && nSecond > 0 && nFirst < oneShot)
    assertSameRows(readBack(s"$base/halves/edges"), readBack(s"$base/full/edges"), "edges")
    assertSameRows(readBack(s"$base/halves/nodes"), readBack(s"$base/full/nodes"), "nodes")
    // a second write of the same batch changes nothing: the same rows in
    // the same bucket partitions
    def snapshot(t: String) = (
      readBack(s"$base/halves/$t").collect().map(_.mkString("|")).sorted.toSeq,
      new java.io.File(s"$base/halves/$t").list().filter(_.startsWith("bucket=")).sorted.toSeq)
    val before = Seq("edges", "nodes").map(snapshot)
    assert(load(s"$base/halves", turns.where(!half)) == nSecond)
    assert(Seq("edges", "nodes").map(snapshot) == before)
  }

  test("the fused dedup rides the aligned exchange — no shuffle on the dedup keys") {
    val plan = Materialize.alignedDedupCoded(stages.canonicalCompact, 8, 2)
      .queryExecution.executedPlan.toString
    // exactly one write-aligned exchange on (bucket, _sub) ...
    val aligned = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(bucket"))
    assert(aligned == 1, s"expected 1 aligned exchange, found $aligned:\n$plan")
    // ... and the distinct() adds NO exchange of its own: no shuffle ever
    // partitions on the dedup key columns (the only other exchanges are the
    // small per-conversation interruption windows inside the derivation)
    val dedupExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("subj_pre"))
    assert(dedupExchanges == 0, s"dedup added its own exchange:\n$plan")
    // the dedup itself plans as hash aggregation directly over the aligned
    // exchange (partial+final in one stage), not as sort+window
    assert(plan.contains("HashAggregate"), s"no hash-agg dedup in plan:\n$plan")
  }

  test("the aligned exchange ships the coded payload — no pred/prefix strings") {
    // the dedup aggregate keys over the exchange are the CODED columns:
    // (_pc, a, b, bucket, _sub) — the pred/prefix strings exist only in the
    // writers' decode projections after the dedup, so they never cross the
    // shuffle
    val plan = Materialize.alignedDedupCoded(stages.canonicalCompact, 8, 2)
      .queryExecution.executedPlan.toString
    val aggKeys = plan.linesIterator
      .filter(_.contains("HashAggregate(keys=["))
      .map(l => l.substring(l.indexOf("keys=[") + 6, l.indexOf("]", l.indexOf("keys=["))))
      .toSeq
    assert(aggKeys.nonEmpty, s"no hash-agg dedup found:\n$plan")
    aggKeys.foreach { k =>
      assert(k.contains("_pc") && !k.contains("pred#") && !k.contains("_pre"),
        s"dedup keys carry string columns: $k")
    }
  }

  test("fused write file count is the aligned fan-out, independent of cores") {
    val base = java.nio.file.Files.createTempDirectory("fused-files").toString
    Materialize.writeGraphFused(spark, s"$base/w",
      stages.canonicalCompact, nBuckets = 8, filesPerBucket = 1)
    val files = new java.io.File(s"$base/w/edges").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .count(_.getName.endsWith(".parquet"))
    // ≤ nBuckets × filesPerBucket + hash-collision slack, never tasks×buckets
    assert(files <= 16, s"edge write fan-out exploded: $files files")
  }
}
