package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Layer spans for one operation, recorded from outside the program.
  *
  * An operation is a sequence of layer calls. `enter(layer)` closes the
  * running segment and opens the next one, so the segments partition the
  * operation's wall time: their sum is the operation's traced `run_s`.
  * Every Spark job is attributed to the layer whose job group was set when
  * it was submitted (the job group is set on `enter`), falling back to the
  * segment running at job start.
  *
  * The untraced form (`Tracer.Off`) makes every call a no-op and forces
  * nothing, so the untraced and traced operations run the same code.
  */
sealed trait Tracer {
  def enter(layer: String): Unit
  /** Force `df` and hand on a frame over the forced rows. */
  def force(df: DataFrame, layer: String): DataFrame
  /** The `observeLink` hook of `Pipeline.build`: forces the mention table
    * (extract), then the link output (link), and leaves the calls that
    * `Pipeline.build` makes after it to canonicalize. */
  def linkHook: DataFrame => DataFrame
  def addRows(layer: String, n: Long): Unit
  def stop(): Unit
}

object Tracer {
  object Off extends Tracer {
    def enter(layer: String): Unit = ()
    def force(df: DataFrame, layer: String): DataFrame = df
    val linkHook: DataFrame => DataFrame = identity
    def addRows(layer: String, n: Long): Unit = ()
    def stop(): Unit = ()
  }
}

/** One task as the listener saw it. */
final case class TaskRec(job: Int, stage: Int, launchMs: Long, finishMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    recordsRead: Long, recordsWritten: Long, bytesWritten: Long)

/** Collects job and task metrics for the whole application; one instance
  * per traced run. */
final class LayerListener extends SparkListener {
  val jobLayer = new ConcurrentHashMap[Int, String]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val jobsEnded = ConcurrentHashMap.newKeySet[Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  @volatile var currentLayer: String = "none"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Span.JobGroupProperty)))
    jobLayer.put(e.jobId, group.filter(_.startsWith(Span.GroupPrefix))
      .map(_.stripPrefix(Span.GroupPrefix)).getOrElse(currentLayer))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks.add(TaskRec(stageJob.getOrDefault(e.stageId, -1), e.stageId,
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
  }
}

object Span {
  val GroupPrefix = "perfbench:"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupProperty = "spark.jobGroup.id"
}

/** Segment of an operation spent in one layer (epoch millis and nanos). */
final case class Segment(layer: String, startMs: Long, endMs: Long, nanos: Long)

final class LayerTracer(sc: SparkContext, listener: LayerListener) extends Tracer {
  private val segments = Vector.newBuilder[Segment]
  private val rows = scala.collection.mutable.Map.empty[String, Long]
  private val groups = scala.collection.mutable.LinkedHashSet.empty[String]
  private var open: Option[(String, Long, Long)] = None
  private val firstTask = listener.tasks.size

  private def close(): Unit = open.foreach { case (layer, ms, ns) =>
    segments += Segment(layer, ms, System.currentTimeMillis(), System.nanoTime() - ns)
  }

  def enter(layer: String): Unit = {
    close()
    val group = Span.GroupPrefix + layer
    groups += group
    sc.setJobGroup(group, layer)
    listener.currentLayer = layer
    open = Some((layer, System.currentTimeMillis(), System.nanoTime()))
  }

  def force(df: DataFrame, layer: String): DataFrame = {
    val ck = df.localCheckpoint(false)
    addRows(layer, ck.count())
    ck
  }

  val linkHook: DataFrame => DataFrame = { linked =>
    // the mention table is a lazy local checkpoint inside the link plan;
    // counting its RDD computes and keeps its blocks
    val wide = linked.queryExecution.analyzed.collect {
      case r: LogicalRDD if r.output.exists(_.name == "is_speaker") => r.rdd
    }
    addRows("extract", wide.map(_.count()).sum)
    enter("link")
    val out = force(linked, "link")
    enter("canonicalize")
    out
  }

  def addRows(layer: String, n: Long): Unit = rows(layer) = rows.getOrElse(layer, 0L) + n

  /** Close the last segment and wait until the listener has seen the end
    * of every job the operation submitted. */
  def stop(): Unit = {
    close()
    open = None
    sc.clearJobGroup()
    listener.currentLayer = "none"
    val jobs = groups.toSeq.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!jobs.forall(listener.jobsEnded.contains) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // task-end events of the last stage trail its job end
  }

  /** Per-layer numbers of the finished operation. */
  def report(): LayerReport = {
    val segs = segments.result()
    val tasks = listener.tasks.asScala.toVector.drop(firstTask)
    val byLayer = tasks.groupBy(t => Option(listener.jobLayer.get(t.job)).getOrElse("none"))
    val layers = (segs.map(_.layer) ++ byLayer.keys).distinct.filter(_ != "none")
    LayerReport(layers.map { l =>
      val ss = segs.filter(_.layer == l)
      val ts = byLayer.getOrElse(l, Vector.empty)
      l -> LayerStats(
        wallS = ss.map(_.nanos).sum / 1e9,
        cpuS = ts.map(_.cpuNs).sum / 1e9,
        gcS = ts.map(_.gcMs).sum / 1e3,
        idleS = ss.map(s => idleMs(s, tasks)).sum / 1e3,
        shuffleWriteMb = ts.map(_.shuffleWriteBytes).sum / Mb,
        spillMb = ts.map(_.spillBytes).sum / Mb,
        bytesWrittenMb = ts.map(_.bytesWritten).sum / Mb,
        // rows the benchmark counted at the layer boundary, else the rows
        // the layer's tasks wrote to files
        rowsOut = rows.getOrElse(l, ts.map(_.recordsWritten).sum),
        taskSkew = skew(ts))
    }.toMap)
  }

  private val Mb = 1024.0 * 1024.0

  /** Milliseconds of the segment during which no task of any job ran. */
  private def idleMs(s: Segment, tasks: Seq[TaskRec]): Long = {
    val iv = tasks.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => covered += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => covered += cb - ca }
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  /** max ÷ median records read per task, in the layer's stage that read
    * the most records. */
  private def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val stage = ts.groupBy(_.stage).maxBy(_._2.map(_.recordsRead).sum)._2
      val recs = stage.map(_.recordsRead).sorted
      recs.last.toDouble / math.max(1L, recs(recs.size / 2))
    }
}

final case class LayerStats(wallS: Double, cpuS: Double, gcS: Double, idleS: Double,
    shuffleWriteMb: Double, spillMb: Double, bytesWrittenMb: Double, rowsOut: Long,
    taskSkew: Double)

final case class LayerReport(layers: Map[String, LayerStats])
