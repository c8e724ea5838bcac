package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.materialize.Materialize

/** Benchmark driver: one workload, one JVM, `local[nproc]`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --tmp <dir> --result <file>
  *
  * Sets up the workload (input table three times, the graph_queries
  * warehouse, a warm-up), then runs operations in a closed loop with one
  * client until `--seconds` have passed, checking each operation's output.
  * With `--trace 1` it alternates untraced and traced operations. The
  * result JSON goes to `--result`.
  */
object Main {

  val Workloads = Seq("initial_load", "graph_queries")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tmp: String, result: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("tmp"), kv("result"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; expected one of ${Workloads.mkString(", ")}")
    val spark = session(a.tmp)
    val json =
      try new Runner(spark, a).run()
      finally spark.stop()
    Files.write(Paths.get(a.result), json.getBytes("UTF-8"))
  }

  /** GraftApp's session under `--master local[nproc]`, with every
    * directory Spark writes to under `tmp`. */
  def session(tmp: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-kg")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$tmp/hadoop")
    graft.link.Salting.AqeSkewConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.FuzzRatio.register(spark)
    spark
  }
}

/** What one measured operation produced. */
final case class OpOut(runS: Double, work: Long, warehouseBytes: Long, ok: Boolean,
    traced: Boolean, layers: Option[LayerReport], counters: Map[String, Double])

final class Runner(spark: SparkSession, a: Main.Args) {
  import Runner._

  private val root = a.tmp
  private val salt = Inputs.salt(a.seed)
  private val initial = a.workload == "initial_load"
  private lazy val listener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  private def read(dir: String): DataFrame = spark.read.parquet(dir)

  private def note(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def check(what: String, ok: Boolean): Boolean = {
    if (!ok) note(s"CHECK FAILED: $what")
    ok
  }

  /** Seconds `body` took. */
  private def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val s = (System.nanoTime() - t0) / 1e9
    note(f"$name $s%.3f s")
    s
  }

  /** Runs the measured operation's plans once on a small slice of its
    * input: a load of 1/16 of the conversations, or the analyses over 1/16
    * of the edges. */
  private def warmUp(dir: String): Unit =
    if (initial)
      Ops.load(spark, Tracer.Off,
        read(s"$dir/turns").where(pmod(xxhash64(col("conv_id")), lit(16L)) === 0),
        s"$root/warm", "warm")
    else
      Ops.analyses(spark, Tracer.Off, s"$dir/wh",
        _.where(pmod(xxhash64(col("subj")), lit(16L)) === 0))

  def run(): String = {
    note(s"workload=${a.workload} seed=${a.seed} salt=$salt " +
      s"cores=${Runtime.getRuntime.availableProcessors()}")
    // set-up: the input table SetUps times (median taken), for
    // graph_queries the warehouse it reads (the program's first-run load),
    // then the warm-up; the first Spark jobs of the JVM land in inputs 1
    val inputS = (1 to SetUps).map { k =>
      if (k > 1) deleteTree(s"$root/setup-${k - 1}")
      val dir = s"$root/setup-$k"
      timed(s"inputs $k") { Inputs.writeTurns(spark, dir, s"$dir/turns", salt, Inputs.Events) }
    }
    val dir = s"$root/setup-$SetUps"
    val warehouseS =
      if (initial) 0.0
      else timed("warehouse") { Ops.load(spark, Tracer.Off, read(s"$dir/turns"), s"$dir/wh", "setup") }
    val warmS = timed("warm-up") { warmUp(dir) }
    deleteTree(s"$root/warm")
    val setupOk = initial || checkWarehouse(s"$dir/wh")

    resetPeakRss()
    val measureStart = System.nanoTime()
    val deadline = measureStart + (a.seconds * 1e9).toLong
    val ops = Vector.newBuilder[OpOut]
    var i = 0
    // with tracing, untraced and traced operations alternate, starting and
    // ending untraced, so the overhead estimate cancels warm-up drift
    while (System.nanoTime() < deadline || (a.trace && (i < 3 || i % 2 == 0))) {
      val traced = a.trace && i % 2 == 1
      val out =
        try operation(dir, i, traced)
        catch {
          case e: Exception =>
            note(s"operation $i failed: $e")
            OpOut(Double.NaN, 0L, 0L, ok = false, traced, None, Map.empty)
        }
      note(f"op $i traced=$traced run_s=${out.runS}%.3f work=${out.work} ok=${out.ok}")
      out.layers.foreach(_.layers.toSeq.sortBy(_._1).foreach { case (l, s) =>
        note(f"  $l%-20s wall=${s.wallS}%.3f cpu=${s.cpuS}%.3f idle=${s.idleS}%.3f " +
          f"shuffle_mb=${s.shuffleWriteMb}%.2f rows=${s.rowsOut} skew=${s.taskSkew}%.2f")
      })
      ops += out
      i += 1
    }
    note(f"measured ${(System.nanoTime() - measureStart) / 1e9}%.3f s")
    val peakRss = peakRssMb()
    val all = ops.result()
    val failed = all.count(!_.ok)
    val metrics =
      if (!a.trace) endToEnd(median(inputS) + warehouseS + warmS, all, peakRss)
      else perLayer(all)
    Json.result(setupOk && failed == 0, all.size, failed, metrics)
  }

  private def operation(dir: String, i: Int, traced: Boolean): OpOut = {
    val tr = if (traced) new LayerTracer(spark.sparkContext, listener) else Tracer.Off
    def report = tr match {
      case t: LayerTracer => Some(t.report())
      case _ => None
    }
    if (initial) {
      val wh = s"$root/op-$i"
      val opStartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = Ops.load(spark, tr, read(s"$dir/turns"), wh, s"op-$i")
      val runS = (System.nanoTime() - t0) / 1e9
      val ok = check("fused write path on an empty warehouse", r.fused) &
        check(s"linked ${r.linked} / exact ${r.exact} == pinned ${Pin.linked} / ${Pin.exact}",
          r.linked == Pin.linked && r.exact == Pin.exact) &
        check(s"committed triples ${r.triples} == pinned ${Pin.triples}", r.triples == Pin.triples) &
        checkWarehouse(wh)
      val counters =
        if (!traced) Map.empty[String, Double]
        else {
          val z = r.stages.linkedZaken.agg(count(lit(1)),
            sum(when(col("match_type") =!= graft.model.MatchType.NoMatch, 1L).otherwise(0L)))
            .head()
          Map(
            "link.exact_ratio" -> r.exact.toDouble / r.linked,
            "link.resolved_ratio" -> z.getLong(1).toDouble / z.getLong(0),
            "materialize.files_written" -> dataFilesSince(wh, opStartMs).toDouble)
        }
      val bytes = treeBytes(wh)
      deleteTree(wh)
      OpOut(runS, r.triples, bytes, ok, traced, report, counters)
    } else {
      val wh = s"$dir/wh"
      val t0 = System.nanoTime()
      val s = Ops.analyses(spark, tr, wh)
      val runS = (System.nanoTime() - t0) / 1e9
      val ok = check(s"analysis results $s == pinned ${Pin.analyses}", s == Pin.analyses)
      OpOut(runS, Pin.triples, treeBytes(wh), ok, traced, report, Map.empty)
    }
  }

  /** Pinned counts, pinned content and integrity of a full warehouse. */
  private def checkWarehouse(wh: String): Boolean = {
    val edges = Materialize.readEdges(spark, wh)
    val nodes = Materialize.readNodes(spark, wh)
    val e = edges.agg(count(lit(1)), countDistinct(col("src_key"), col("rel_type"), col("dst_key")),
      contentHash(edges, salt)).head()
    val n = nodes.agg(count(lit(1)), contentHash(nodes, salt)).head()
    val dangling = edges.select(explode(array(col("src_key"), col("dst_key"))).as("key"))
      .join(nodes, Seq("key"), "left_anti").count()
    check(s"edge count ${e.getLong(0)} == pinned ${Pin.triples}", e.getLong(0) == Pin.triples) &
      check(s"node count ${n.getLong(0)} == pinned ${Pin.nodes}", n.getLong(0) == Pin.nodes) &
      check(s"edge content hash ${e.getLong(2)} == pinned ${Pin.edgeHash}",
        e.getLong(2) == Pin.edgeHash) &
      check(s"node content hash ${n.getLong(1)} == pinned ${Pin.nodeHash}",
        n.getLong(1) == Pin.nodeHash) &
      check(s"$dangling edge endpoints are not nodes", dangling == 0) &
      check("no edge key appears twice", e.getLong(1) == e.getLong(0))
  }

  private def endToEnd(setupS: Double, ops: Seq[OpOut], peakRss: Double): Seq[Json.Metric] = {
    val good = ops.filter(o => o.ok && !o.runS.isNaN)
    Seq(
      Json.Metric("setup_s", setupS, "s"),
      Json.Metric("run_s", median(good.map(_.runS)), "s"),
      Json.Metric("triples_per_s", median(good.map(o => o.work / o.runS)), "triples/s"),
      Json.Metric("ok_frac", ops.count(_.ok).toDouble / ops.size, "ratio"),
      Json.Metric("peak_rss_mb", peakRss, "MB"),
      Json.Metric("warehouse_mb", median(good.map(_.warehouseBytes / Mb)), "MB"))
  }

  private def perLayer(ops: Seq[OpOut]): Seq[Json.Metric] = {
    val traced = ops.filter(o => o.traced && o.ok && o.layers.isDefined)
    val untraced = ops.filter(o => !o.traced && o.ok)
    def med(f: OpOut => Double): Double = if (traced.isEmpty) 0.0 else median(traced.map(f))
    def layer(l: String)(f: LayerStats => Double): Double =
      med(o => o.layers.get.layers.get(l).map(f).getOrElse(0.0))
    // canonicalize hands its map to the triple plans inside Pipeline.build,
    // so it has no rows to count
    val perLayer = Layers.flatMap { l =>
      Seq(
        Json.Metric(s"$l.wall_s", layer(l)(_.wallS), "s"),
        Json.Metric(s"$l.cpu_s", layer(l)(_.cpuS), "s"),
        Json.Metric(s"$l.gc_s", layer(l)(_.gcS), "s"),
        Json.Metric(s"$l.idle_s", layer(l)(_.idleS), "s"),
        Json.Metric(s"$l.shuffle_write_mb", layer(l)(_.shuffleWriteMb), "MB"),
        Json.Metric(s"$l.spill_mb", layer(l)(_.spillMb), "MB"),
        Json.Metric(s"$l.rows_out", layer(l)(_.rowsOut.toDouble), "rows"),
        Json.Metric(s"$l.task_skew", layer(l)(_.taskSkew), "ratio"))
    }.filter(_.name != "canonicalize.rows_out")
    val triplesRows = layer("triples")(_.rowsOut.toDouble)
    val ratios = Seq(
      Json.Metric("link.exact_ratio", med(_.counters.getOrElse("link.exact_ratio", 0.0)), "ratio"),
      Json.Metric("link.resolved_ratio",
        med(_.counters.getOrElse("link.resolved_ratio", 0.0)), "ratio"),
      Json.Metric("triples.distinct_ratio",
        if (triplesRows == 0) 0.0 else med(_.work.toDouble) / triplesRows, "ratio"),
      Json.Metric("materialize.files_written",
        med(_.counters.getOrElse("materialize.files_written", 0.0)), "count"),
      Json.Metric("materialize.bytes_written_mb", layer("materialize")(_.bytesWrittenMb), "MB"))
    val analyses = Analyses.flatMap { n =>
      Seq(
        Json.Metric(s"analysis.${n}_s", layer(s"analysis.$n")(_.wallS), "s"),
        Json.Metric(s"analysis.${n}_cpu_s", layer(s"analysis.$n")(_.cpuS), "s"))
    }
    val overhead = Json.Metric("trace_overhead_frac",
      med(_.runS) / median(untraced.map(_.runS)) - 1.0, "ratio")
    perLayer ++ ratios ++ analyses :+ overhead
  }

  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: Exception => note("cannot reset peak RSS; reporting the process peak") }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Runner {
  /** Input generations per run; `setup_s` takes their median. */
  val SetUps = 3
  val Mb = 1024.0 * 1024.0
  val Layers = Seq("extract", "link", "canonicalize", "triples", "materialize", "checkpoint")
  val Analyses = Seq("degrees", "two_hop", "triangles", "pagerank")

  /** Output values pinned for the generated input; they do not depend on
    * the seed (content hashes are taken with the seed's salt removed). */
  object Pin {
    val triples = 67650L
    val nodes = 5861L
    val linked = 20000L
    val exact = 10000L
    val edgeHash = 71916140601428L
    val nodeHash = 2087207688812L
    val analyses: Map[String, (Long, Long)] = Map(
      "degrees" -> (5861L, 90036L), "two_hop" -> (24L, 264L),
      "triangles" -> (24L, 1320L), "pagerank" -> (5861L, 293611642486L))
  }

  /** Order-independent hash of a table's rows with `salt` removed from
    * every value, as an aggregate column. Vote keys are an md5 over the
    * salted conv_id, so they hash as the bare `vote:` prefix. */
  def contentHash(df: DataFrame, salt: String): org.apache.spark.sql.Column = {
    val values = df.columns.sorted.toIndexedSeq.map { c =>
      val v = col(c).cast("string")
      when(v.startsWith("vote:"), lit("vote:")).otherwise(replace(v, lit(salt), lit("")))
    }
    coalesce(sum(pmod(xxhash64(values: _*), lit(1L << 31))), lit(0L))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }
  }

  def treeBytes(dir: String): Long =
    walk(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Parquet data files of the node and edge tables written at or after `sinceMs`. */
  def dataFilesSince(wh: String, sinceMs: Long): Long =
    Seq("nodes", "edges").flatMap(t => walk(s"$wh/$t")).count { p =>
      p.getFileName.toString.endsWith(".parquet") &&
        Files.getLastModifiedTime(p).toMillis >= sinceMs
    }.toLong

  def deleteTree(dir: String): Unit =
    walk(dir).reverse.foreach(p => Files.deleteIfExists(p))
}

object Json {
  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"
}
