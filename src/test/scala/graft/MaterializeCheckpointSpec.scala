package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.materialize.Materialize

/** Materializer upsert semantics (idempotency, update-wins, endpoint
  * integrity) and checkpoint resume (crash after k buckets → resume → same
  * output as a single run).
  */
class MaterializeCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def triples(rows: (String, String, String)*): DataFrame =
    rows.toSeq.toDF("subj", "pred", "obj")

  /** Coded rows (pred, a, b, subj_pre, obj_pre) of namespaced triples, with
    * the prefixes `Triples.compactVocab` assigns to each predicate.
    */
  private def compact(rows: (String, String, String)*): DataFrame = {
    val vocab = graft.triples.Triples.compactVocab.map(v => v._1 -> v).toMap
    rows.map { case (s, p, o) =>
      val (_, sp, op) = vocab(p)
      (p, s.stripPrefix(sp), o.stripPrefix(op), sp, op)
    }.toDF("pred", "a", "b", "subj_pre", "obj_pre")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("nodes/edges derivation splits namespaced keys into labels") {
    val t = triples(("persoon:P1", "SPOKE_IN", "conv:c1"))
    val n = Materialize.nodes(t).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(n == Set(("persoon", "persoon:P1"), ("conv", "conv:c1")))
    val wh = tmp("wh-labels")
    Materialize.writeGraph(spark, wh, compact(
      ("persoon:P1", "SPOKE_IN", "conv:c1"),
      ("conv:c1", "HAS_FRACTIE_VOTE", "vote:v1")))
    val e = Materialize.readEdges(spark, wh).collect()
      .map(r => r.getAs[String]("rel_type") -> r).toMap
    assert(e("SPOKE_IN").getAs[String]("src_label") == "persoon" &&
      e("SPOKE_IN").getAs[String]("dst_label") == "conv")
    // empty-prefix (vote) rows carry the full key; the label is parsed from it
    assert(e("HAS_FRACTIE_VOTE").getAs[String]("src_key") == "conv:c1" &&
      e("HAS_FRACTIE_VOTE").getAs[String]("dst_label") == "vote")
    assert(Materialize.readNodes(spark, wh).count() == 3)
  }

  test("writeGraph is idempotent: double run yields identical tables") {
    val wh = tmp("wh-idem")
    val t = compact(
      ("persoon:P1", "SPOKE_IN", "conv:c1"),
      ("persoon:P2", "SPOKE_IN", "conv:c1"),
      ("conv:c1", "CONTAINS_SPEAKER", "persoon:P1"))
    assert(Materialize.writeGraph(spark, wh, t) == 3)
    val nodes1 = sortedRows(Materialize.readNodes(spark, wh))
    val edges1 = sortedRows(Materialize.readEdges(spark, wh))
    assert(Materialize.writeGraph(spark, wh, t) == 3) // re-run same batch
    assert(sortedRows(Materialize.readNodes(spark, wh)) == nodes1)
    assert(sortedRows(Materialize.readEdges(spark, wh)) == edges1)
    assert(nodes1.length == 3 && edges1.length == 3)
  }

  test("incremental batch only adds its own data; existing rows survive") {
    val wh = tmp("wh-incr")
    Materialize.writeGraph(spark, wh, compact(("persoon:P1", "SPOKE_IN", "conv:c1")))
    Materialize.writeGraph(spark, wh, compact(("persoon:P2", "SPOKE_IN", "conv:c2")))
    val nodes = Materialize.readNodes(spark, wh)
    assert(nodes.count() == 4)
    assert(Materialize.readEdges(spark, wh).count() == 2)
  }

  test("upsert update-wins on key collision") {
    val path = tmp("wh-upd")
    val v1 = Seq(("k1", "old"), ("k2", "old")).toDF("key", "props")
    val v2 = Seq(("k1", "new")).toDF("key", "props")
    Materialize.upsert(spark, path, v1, Seq("key"), "key")
    Materialize.upsert(spark, path, v2, Seq("key"), "key")
    val got = spark.read.parquet(path).select("key", "props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("k1" -> "new", "k2" -> "old"))
  }

  test("upsert read path PRUNES untouched buckets (PartitionFilters, not a row filter)") {
    val path = tmp("wh-prune")
    val v1 = (0 until 200).map(i => (s"k$i", "v")).toDF("key", "props")
    Materialize.upsert(spark, path, v1, Seq("key"), "key")
    val pruned = Materialize.prunedRead(spark, path, Seq(1, 5))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition filter in plan:\n$plan")
    // the physical filter must be a partition filter with literal values,
    // reading only the requested buckets' rows
    val expect = spark.read.parquet(path)
      .where(col("bucket") === 1 || col("bucket") === 5).count()
    assert(pruned.count() == expect)
  }

  test("upsert refuses a mismatched bucket count (layout-compat validation)") {
    val path = tmp("wh-nbmismatch")
    val v1 = Seq(("k1", "v")).toDF("key", "props")
    Materialize.upsert(spark, path, v1, Seq("key"), "key", nBuckets = 16)
    val e = intercept[IllegalArgumentException] {
      Materialize.upsert(spark, path, v1, Seq("key"), "key", nBuckets = 32)
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
  }

  test("upsert sweeps stale staging dirs and leaves none behind on success") {
    val path = tmp("wh-stage-hygiene")
    val v1 = Seq(("k1", "v")).toDF("key", "props")
    Materialize.upsert(spark, path, v1, Seq("key"), "key")
    // simulate a crashed previous upsert: an orphaned staging dir
    val orphan = new java.io.File(s"$path.staging-999")
    assert(orphan.mkdirs())
    Files.writeString(orphan.toPath.resolve("leftover"), "x")
    Materialize.upsert(spark, path, Seq(("k2", "v")).toDF("key", "props"),
      Seq("key"), "key")
    val parent = new java.io.File(path).getParentFile
    val stray = parent.listFiles().filter(_.getName.contains(".staging-"))
    assert(stray.isEmpty, s"staging dirs left behind: ${stray.mkString(",")}")
    assert(spark.read.parquet(path).count() == 2)
  }

  test("at nBuckets=256 a 1-bucket-touching batch rewrites exactly 1 bucket dir") {
    val path = tmp("wh-granular")
    val nb = 256
    val v1 = (0 until 600).map(i => (s"k$i", "v")).toDF("key", "props")
    Materialize.upsert(spark, path, v1, Seq("key"), "key", nb)
    def fileSet(): Map[String, Set[String]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet)
        .toMap
    val before = fileSet()
    Materialize.upsert(spark, path, Seq(("k0", "new")).toDF("key", "props"),
      Seq("key"), "key", nb)
    val after = fileSet()
    val changed = before.keySet.union(after.keySet)
      .filter(d => before.get(d) != after.get(d))
    assert(changed.size == 1, s"expected exactly 1 rewritten bucket, got $changed")
    // ~1/N of the table: the one rewritten bucket holds ~600/256 ≈ 2-3 keys
    val rewrittenRows = spark.read.parquet(s"$path/${changed.head}").count()
    assert(rewrittenRows <= 16, s"rewrote $rewrittenRows rows — not 1/N granularity")
    assert(spark.read.parquet(path).where(col("key") === "k0")
      .head().getAs[String]("props") == "new")
  }

  test("debug JSONL sink writes readable lines; single-file variant bounds rows") {
    val dir = tmp("dbg")
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    graft.materialize.DebugSink.jsonl(df, s"$dir/all")
    assert(spark.read.json(s"$dir/all").count() == 3)
    graft.materialize.DebugSink.jsonlSingle(df, s"$dir/one", maxRows = 2)
    val single = spark.read.json(s"$dir/one")
    assert(single.count() == 2)
    assert(new java.io.File(s"$dir/one").listFiles()
      .count(_.getName.endsWith(".json")) == 1)
  }

  test("pipeline link staging dir: intermediate becomes a written parquet table") {
    val staging = tmp("stage")
    val turns = Seq(
      ("c1", 0, "member", "De voorzitter geeft het woord aan Anna Jansen", null.asInstanceOf[String]),
      ("c1", 1, "member", "Wij bespreken vandaag het wetsvoorstel in detail", null.asInstanceOf[String])
    ).map { case (c, i, r, t, tool) =>
      (c, i, r, t, tool, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val stages = graft.pipeline.Pipeline.build(spark, turns,
      linkStagingDir = Some(staging))
    assert(stages.canonical.count() > 0)
    assert(spark.read.parquet(s"$staging/linked_persons").count() == 1)
  }

  test("endpoint integrity drops edges with a missing endpoint (merge_rel parity)") {
    val nodes = Seq(("persoon", "persoon:P1"), ("conv", "conv:c1")).toDF("label", "key")
    val edges = Seq(
      ("persoon", "persoon:P1", "SPOKE_IN", "conv", "conv:c1"), // both endpoints exist
      ("persoon", "persoon:P9", "SPOKE_IN", "conv", "conv:c1"), // missing src
      ("persoon", "persoon:P1", "SPOKE_IN", "conv", "conv:c9")) // missing dst
      .toDF("src_label", "src_key", "rel_type", "dst_label", "dst_key")
    val kept = Materialize.withEndpointIntegrity(edges, nodes).collect()
    assert(kept.length == 1 && kept.head.getAs[String]("src_key") == "persoon:P1")
  }

  test("checkpoint resume: crash after half the buckets -> resume completes the rest exactly") {
    val lineage = tmp("lineage")
    val data = (0 until 200).map(i => (s"c$i", i)).toDF("conv_id", "x")
    val nb = 8

    // one-shot run (the oracle)
    def process(df: DataFrame): Seq[String] =
      sortedRows(df.select("conv_id", "x"))
    val fullRun = process(data)

    // "first run" processes buckets 0..3 only, records them, then "crashes"
    val firstHalf = data.where(Checkpoint.bucketOf(col("conv_id"), nb) < 4)
    Checkpoint.recordProcessed(spark, lineage, "run1", "extract", firstHalf, "conv_id", nb)

    // resume: anti-join lineage, process the remainder
    val processed = Checkpoint.processedBuckets(spark, lineage, "extract")
    assert(processed.count() == 4)
    val remainder = Checkpoint.filterUnprocessed(data, processed, "conv_id", nb)
    assert(remainder.count() == data.count() - firstHalf.count())
    Checkpoint.recordProcessed(spark, lineage, "run2", "extract", remainder, "conv_id", nb)

    // combined coverage equals the one-shot run, with no overlap
    assert((process(firstHalf) ++ process(remainder)).sorted == fullRun)
    val stats = Checkpoint.stats(spark, lineage, "extract").head()
    assert(stats.getAs[Long]("buckets_done") == nb)
    assert(stats.getAs[Long]("rows_done") == 200)
  }

  test("failed buckets are recorded with error class and re-run on resume") {
    val lineage = tmp("lineage-fail")
    val data = (0 until 100).map(i => (s"c$i", i)).toDF("conv_id", "x")
    val nb = 8
    val cfg = Checkpoint.configHash("dict" -> "1")
    // buckets 0..5 done; bucket 6 "throws" and is recorded failed
    val done = data.where(Checkpoint.bucketOf(col("conv_id"), nb) < 6)
    Checkpoint.recordProcessed(spark, lineage, "r1", "extract", done, "conv_id", nb, cfg)
    Checkpoint.recordFailed(spark, lineage, "r1", "extract", 6,
      new RuntimeException("boom"), cfg)
    // failure is visible in stats (the reference's failure_count/failed_items)
    val st = Checkpoint.stats(spark, lineage, "extract").head()
    assert(st.getAs[Long]("buckets_done") == 6)
    assert(st.getAs[Long]("failure_count") == 1)
    assert(st.getAs[scala.collection.Seq[Int]]("failed_buckets").toSeq == Seq(6))
    val err = spark.read.parquet(lineage).where(col("status") === "failed")
      .head().getAs[String]("err_class")
    assert(err == "java.lang.RuntimeException")
    // resume excludes ONLY done buckets: the failed bucket 6 re-runs
    val processed = Checkpoint.processedBuckets(spark, lineage, "extract")
    val remainder = Checkpoint.filterUnprocessed(data, processed, "conv_id", nb)
    val remBuckets = remainder
      .select(Checkpoint.bucketOf(col("conv_id"), nb).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(remBuckets == Set(6, 7))
  }

  test("resume under a different config is refused; same config passes") {
    val lineage = tmp("lineage-cfg")
    val data = Seq(("c1", 1)).toDF("conv_id", "x")
    val cfg1 = Checkpoint.configHash("dict" -> "1", "nbuckets" -> "16")
    val cfg1b = Checkpoint.configHash("nbuckets" -> "16", "dict" -> "1") // order-insensitive
    val cfg2 = Checkpoint.configHash("dict" -> "2", "nbuckets" -> "16")
    Checkpoint.recordProcessed(spark, lineage, "r1", "pipeline", data, "conv_id",
      configHash = cfg1)
    Checkpoint.requireCompatible(spark, lineage, "pipeline", cfg1b) // ok
    val e = intercept[IllegalStateException] {
      Checkpoint.requireCompatible(spark, lineage, "pipeline", cfg2)
    }
    assert(e.getMessage.contains("config mismatch"))
    // a different stage is unaffected
    Checkpoint.requireCompatible(spark, lineage, "otherstage", cfg2)
  }

  test("recordProcessed appends exactly ONE file per call; compactLineage folds them") {
    val lineage = tmp("lineage-compact")
    val data = (0 until 100).map(i => (s"c$i", i)).toDF("conv_id", "x")
    Checkpoint.recordProcessed(spark, lineage, "r1", "s1", data, "conv_id", 8)
    Checkpoint.recordProcessed(spark, lineage, "r2", "s2", data, "conv_id", 8)
    def dataFiles() = new java.io.File(lineage).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles().length == 2, s"expected 1 file per record call")
    val before = sortedRows(spark.read.parquet(lineage).drop("ts"))
    Checkpoint.compactLineage(spark, lineage)
    assert(dataFiles().length == 1, "compaction should leave one file")
    assert(sortedRows(spark.read.option("mergeSchema", "true").parquet(lineage)
      .drop("ts")) == before)
    assert(!new java.io.File(lineage + ".compact").exists(),
      "compaction temp dir left behind")
  }

  test("legacy lineage rows (pre-config_hash schema) refuse resume, never silently pass") {
    val lineage = tmp("lineage-legacy")
    // a legacy 6-column file (no err_class/config_hash), as round-2 wrote
    Seq(("r0", "pipeline", 0, 5L, "done",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("run_id", "stage", "bucket", "n_rows", "status", "ts")
      .write.parquet(lineage)
    val cfg = Checkpoint.configHash("dict" -> "1")
    Checkpoint.recordProcessed(spark, lineage, "r1", "pipeline",
      Seq(("c1", 1)).toDF("conv_id", "x"), "conv_id", configHash = cfg)
    // the mixed-schema dir must read as the UNION of columns, and the
    // legacy rows' unknown (null) config_hash must refuse, not pass
    val e = intercept[IllegalStateException] {
      Checkpoint.requireCompatible(spark, lineage, "pipeline", cfg)
    }
    assert(e.getMessage.contains("pre-config_hash"))
    // stats and processedBuckets still read the mixed dir
    assert(Checkpoint.stats(spark, lineage, "pipeline")
      .head().getAs[Long]("buckets_done") >= 1)
    assert(Checkpoint.processedBuckets(spark, lineage, "pipeline").count() >= 1)
  }

  test("explicit run-id reuse under a different config is refused; same config allowed") {
    val lineage = tmp("lineage-runid")
    val data = Seq(("c1", 1)).toDF("conv_id", "x")
    val cfg1 = Checkpoint.configHash("dict" -> "1")
    val cfg2 = Checkpoint.configHash("dict" -> "2")
    Checkpoint.recordProcessed(spark, lineage, "runA", "pipeline", data,
      "conv_id", configHash = cfg1)
    Checkpoint.requireRunIdFresh(spark, lineage, "runA", cfg1) // resume: same cfg
    Checkpoint.requireRunIdFresh(spark, lineage, "runB", cfg2) // fresh id
    val e = intercept[IllegalStateException] {
      Checkpoint.requireRunIdFresh(spark, lineage, "runA", cfg2)
    }
    assert(e.getMessage.contains("run-id"))
  }

  test("bucket marker precedes data; a data table without a marker is refused") {
    // crash-after-marker window: a marker-only dir is a DECLARED empty
    // table — a later upsert validates the declared count and proceeds
    val path = tmp("wh-markerfirst")
    assert(new java.io.File(path).mkdirs())
    Files.writeString(java.nio.file.Paths.get(path, "_graft_nbuckets"), "16")
    Materialize.upsert(spark, path, Seq(("k1", "v")).toDF("key", "props"),
      Seq("key"), "key", nBuckets = 16)
    assert(spark.read.parquet(path).count() == 1)
    // ...and refuses a DIFFERENT count even before any data lands
    val path2 = tmp("wh-markerdecl")
    assert(new java.io.File(path2).mkdirs())
    Files.writeString(java.nio.file.Paths.get(path2, "_graft_nbuckets"), "16")
    intercept[IllegalArgumentException] {
      Materialize.upsert(spark, path2, Seq(("k1", "v")).toDF("key", "props"),
        Seq("key"), "key", nBuckets = 32)
    }
    // a data-bearing table whose marker is GONE is refused outright: its
    // bucket count is unknowable and a wrong guess scatters keys
    val path3 = tmp("wh-nomarker")
    Materialize.upsert(spark, path3, Seq(("k1", "v")).toDF("key", "props"),
      Seq("key"), "key", nBuckets = 16)
    assert(new java.io.File(path3, "_graft_nbuckets").delete())
    val e = intercept[IllegalStateException] {
      Materialize.upsert(spark, path3, Seq(("k2", "v")).toDF("key", "props"),
        Seq("key"), "key", nBuckets = 16)
    }
    assert(e.getMessage.contains("_graft_nbuckets"))
  }

  test("a stage with no lineage resumes from scratch (empty processed set)") {
    val processed = Checkpoint.processedBuckets(spark, tmp("nolineage"), "link")
    assert(processed.count() == 0)
    val data = Seq(("c1", 1)).toDF("conv_id", "x")
    assert(Checkpoint.filterUnprocessed(data, processed, "conv_id").count() == 1)
  }
}
