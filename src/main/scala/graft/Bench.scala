package graft

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.functions.FuzzRatio
import graft.synth.TranscriptGen

/** Benchmark main — north-star metric (BASELINE.json): end-to-end triples/sec
  * over extract → link → triples → canonicalize → materialize, at two
  * CLUSTER sizes (N vs 4N single-core executors) with scaling efficiency
  * `(T_low / T_high) / (high/low)`.
  *
  * Protocol (round 2): the north rule asks for "spark-submit on a
  * multi-executor cluster at two cluster sizes". This bench therefore
  * stands up a REAL Spark standalone cluster on this box per level —
  * one master + N worker JVMs, each worker pinned to its own core
  * (`taskset`) and offering exactly 1 core — and runs the identical job
  * (same input parquet) from a separately-pinned driver JVM. Executors are
  * separate processes exchanging shuffle blocks over loopback netty, like
  * a real cluster (and unlike `local[N]`, where all "executors" share one
  * JVM's allocator/JIT/safepoints — a measured ~1.5× per-task slowdown at
  * 4 threads that no real cluster exhibits; local-mode numbers understate
  * cluster scaling).
  *
  * Each level: cluster up → child driver warms codegen on a small
  * same-plan-shape input and waits for full executor registration → k
  * measured runs (median/min/max emitted) → cluster down.
  * `scaling_efficiency` = the 1-vs-4-executor pair; `scaling_efficiency_hi`
  * = the CPUS/4-vs-CPUS pair (with 32 workers the box is fully subscribed
  * and workers share cores with the driver/master — reported, not hidden).
  *
  * Prints ONE JSON line:
  * `{"metric":…,"value":<triples/sec at the highest level>,"unit":"triples/sec",
  *   "queries":{per-level medians/min/max + throughputs + efficiencies},"sf":…}`.
  */
object Bench {

  /** All bench I/O on tmpfs — /tmp is a virtual disk whose latency variance
    * swamps measurements (see BASELINE.md).
    */
  val ShmRoot = "/dev/shm/graft-bench"

  val MasterPort = 7177
  val MasterUrl = s"spark://127.0.0.1:$MasterPort"

  /** Cores layout: workers on 0..27 (wrapping), driver on 28-29, master 30-31. */
  val WorkerCores = 28
  val DriverCores = "28-29"
  val MasterCore = "30-31"

  /** The running application's own jar/classes location — shipped to
    * executors (`spark.jars`), which a programmatic cluster connection must
    * do itself (spark-submit normally does it).
    */
  private[graft] def appJar: String =
    Bench.getClass.getProtectionDomain.getCodeSource.getLocation.getPath

  private[graft] def session(master: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.jars", if (appJar.endsWith(".jar")) appJar else "")
      .appName(s"graft-bench-$cores")
      // uniform per-cluster-size tuning rule at every level (Spark's own
      // tuning guide: 2-4 tasks per core): partitions = 4 × total cores,
      // 16 MiB file splits — constant split granularity like a real table
      .config("spark.sql.shuffle.partitions",
        (sys.env.getOrElse("SPARK_GRAFT_PARTS_PER_CORE", "4").toInt * cores).toString)
      .config("spark.sql.files.maxPartitionBytes",
        (sys.env.getOrElse("SPARK_GRAFT_SPLIT_MB", "16").toLong * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$ShmRoot/local")
      .config("spark.executor.cores", "1")
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
      .config("spark.cores.max", cores.toString)
      // loopback cluster: locality waits only add idle time
      .config("spark.locality.wait", "0")
      // trade CPU (scales with cores) for memory-bus bytes (doesn't):
      // compression codec knobs for shuffle/persist and parquet output
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_CODEC", "lz4"))
      // applies to serialized RDD blocks only; the checkpoint blocks are
      // deserialized (see graft.util.Ckpt)
      .config("spark.rdd.compress",
        sys.env.getOrElse("SPARK_GRAFT_RDD_COMPRESS", "false"))
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // dynamic-partition writes: concurrent per-partition writers instead
      // of the implicit sort-copy of every row into the sorter buffer
      // (aligned write tasks carry ~1 bucket value each, so 8 writers never
      // fall back; A/B'd at 4 cores: the write job sheds the row-copy pass)
      .config("spark.sql.maxConcurrentOutputFileWriters",
        sys.env.getOrElse("SPARK_GRAFT_CCW", "8"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    FuzzRatio.register(s)
    s
  }

  /** Input prep (untimed): synthesize the transcript table, replicated
    * `repl`× under distinct conv_ids, ONE parquet table + a repl-1 warm-up
    * table (codegen is keyed on plan shape, so a small identical-shape input
    * warms each driver JVM in seconds). Identical files at every level.
    * Fully deterministic (seeded TranscriptGen), so a mid-run rebuild after
    * external cleanup of /dev/shm reproduces byte-identical row sets.
    */
  private[graft] def prepareInput(sfDir: String, repl: Int,
      root: String = ShmRoot): (String, String) = {
    import org.apache.spark.sql.functions._
    val dir = s"$root/in/turns"
    val warm = s"$root/in/warm"
    // a live context (the ScalaTest shared session, when a rebuild runs
    // inside a spec) must be reused and NOT stopped; a stopped default
    // session from an earlier prepare/rebuild would poison getOrCreate,
    // so clear those before building
    val hadLiveContext = (SparkSession.getActiveSession.toSeq ++
      SparkSession.getDefaultSession.toSeq).exists(!_.sparkContext.isStopped)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    FuzzRatio.register(s)
    def cleanup(): Unit = if (!hadLiveContext) s.stop()
    try {
      val t = TranscriptGen.transcripts(s, sfDir)
      val all = (0 until repl)
        .map(i => t.withColumn("conv_id", concat(lit(s"r$i/"), col("conv_id"))))
        .reduce(_ unionByName _)
      all.repartition(64).write.mode("overwrite").parquet(dir)
      // small same-plan-shape warm table: codegen is keyed on generated
      // source and JIT thresholds are hit within one repl-1 pass, so each
      // child warms in seconds instead of a full at-scale discarded run —
      // which keeps the PAIRED protocol's child JVMs cheap (see main)
      t.withColumn("conv_id", concat(lit("w/"), col("conv_id")))
        .repartition(8).write.mode("overwrite").parquet(warm)
    } finally cleanup()
    (dir, warm)
  }

  /** Both input tables present and committed (parquet `_SUCCESS` markers). */
  private[graft] def inputReady(root: String = ShmRoot): Boolean =
    new File(s"$root/in/turns/_SUCCESS").exists() &&
      new File(s"$root/in/warm/_SUCCESS").exists()

  /** CRASH SAFETY (round 5): the bench input lives on `/dev/shm`, which this
    * host's co-tenant/harness demonstrably cleans mid-run — round 4's driver
    * artifact died 42 minutes in when `/dev/shm/graft-bench` vanished and the
    * child's blind retry re-read the same missing path. The input is cheap
    * (~2 min) and fully deterministic to rebuild, so every child launch (and
    * every retry) goes through this existence check instead of trusting the
    * path: missing `_SUCCESS` markers → rebuild in place, identical rows.
    */
  private[graft] def ensureInput(sfDir: String, repl: Int,
      root: String = ShmRoot): (String, String) = {
    if (!inputReady(root)) {
      System.err.println(
        s"[bench] input missing under $root (external tmpfs cleanup?) — rebuilding")
      prepareInput(sfDir, repl, root)
    } else (s"$root/in/turns", s"$root/in/warm")
  }

  /** JDK-17 module opens for raw `java` launches of Spark JVMs. */
  private[graft] val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def javaBin = s"${System.getProperty("java.home")}/bin/java"

  private def classpath: String = {
    val classes = Bench.getClass.getProtectionDomain
      .getCodeSource.getLocation.getPath
    s"$classes:/opt/spark/jars/*"
  }

  private def spawn(pin: String, heap: String, mainClass: String,
      mainArgs: Seq[String], sysProps: Seq[String] = Nil): Process = {
    val cmd = Seq("taskset", "-c", pin, javaBin) ++ jdk17AddOpens ++
      Seq(s"-Xmx$heap") ++ sysProps ++
      Seq("-cp", classpath, mainClass) ++ mainArgs
    val pb = new ProcessBuilder(cmd: _*)
    // the worker daemon composes executor commands from the SPARK_HOME
    // layout; SPARK_SCALA_VERSION short-circuits the dev-build-dir probe
    // (normally both come from load-spark-env.sh)
    pb.environment().put("SPARK_HOME", "/opt/spark")
    pb.environment().put("SPARK_SCALA_VERSION", "2.13")
    pb.redirectErrorStream(true)
    pb.redirectOutput(
      java.io.File.createTempFile(s"bench-${mainClass.split('.').last}-", ".log"))
    pb.start()
  }

  private def startMaster(): Process =
    spawn(MasterCore, "1g", "org.apache.spark.deploy.master.Master",
      Seq("--host", "127.0.0.1", "--port", MasterPort.toString,
        "--webui-port", "8190"),
      Seq("-Dspark.master.rest.enabled=false"))

  private def startWorker(idx: Int): Process =
    spawn(s"${idx % WorkerCores}", "1g", "org.apache.spark.deploy.worker.Worker",
      Seq("--cores", "1", "--memory",
        sys.env.getOrElse("SPARK_GRAFT_WORKER_MEM", "5g"),
        "--port", (41000 + idx).toString, "--webui-port", (42000 + idx).toString,
        "--work-dir", s"$ShmRoot/work/w$idx", MasterUrl))

  private def killStray(): Unit = {
    // executors are worker children; make teardown absolute — but scoped to
    // THIS bench's workers (their --worker-url carries the bench's 41xxx
    // port range), not every Spark executor on the host (ADVICE r2)
    Seq("pkill", "-9", "-f",
      "CoarseGrainedExecutorBackend.*spark://Worker@127.0.0.1:41").!
    // an orphaned clock spinner (parent hard-killed before destroyForcibly)
    // would burn the large side's cores at 100% and contaminate every
    // subsequent run — belt (stdin-EOF self-exit in Spinner) and braces
    Seq("pkill", "-9", "-f", "graft.Spinner").!
    ()
  }

  /** Pids of OTHER live `graft.Bench`/`graft.BenchChild` JVMs — never our
    * own pid, our descendants, or our ANCESTORS (an `sbt "runMain
    * graft.Bench"` launcher carries the class name on ITS command line;
    * killing it would kill this very run), and never non-JVM processes (a
    * harness shell whose command TEXT merely mentions the class must
    * survive — only a process whose executable is `java` can be a stray
    * bench). A record run left over from an earlier session (nohup
    * survives its launcher) contends for every core and would contaminate
    * this run's ENTIRE window, so an artifact-of-record launch takes
    * priority and clears them at startup. Pure selection, unit-tested in
    * BenchPolicySpec; the process sweep is below.
    */
  private[graft] def strayBenchPids(exclude: Set[Long],
      procs: Seq[(Long, String, String)]): Seq[Long] =
    procs.collect {
      case (pid, exe, cmd) if !exclude.contains(pid) &&
        (exe == "java" || exe.endsWith("/java")) &&
        cmd.contains("graft.Bench") => pid
    }

  private def killOtherBenches(): Unit = {
    import scala.jdk.CollectionConverters._
    // a deliberately concurrent smoke (e.g. contract validation at sf0.001
    // while a record run is collecting pairs) opts out with =0
    if (sys.env.get("SPARK_GRAFT_KILL_STRAY_BENCH").contains("0")) return
    val cur = ProcessHandle.current()
    val desc = cur.descendants().iterator().asScala.map(_.pid()).toSet
    val ancestors = Iterator.iterate(Option(cur))(
        _.flatMap(h => Option(h.parent().orElse(null))))
      .takeWhile(_.isDefined).take(32).flatten.map(_.pid()).toSet
    val procs = ProcessHandle.allProcesses().iterator().asScala
      .map(h => (h.pid(), h.info().command().orElse(""),
        h.info().commandLine().orElse(""))).toSeq
    val stray = strayBenchPids(desc + cur.pid() ++ ancestors, procs)
    if (stray.nonEmpty) {
      System.err.println(
        s"[bench] killing stray bench JVM(s) from an earlier session: " +
          stray.mkString(","))
      stray.foreach(p =>
        ProcessHandle.of(p).ifPresent { h => h.destroyForcibly(); () })
      // confirm the victims actually exited (ADVICE r5: a blind 1 s sleep
      // can leave a dying 20 GiB JVM still draining over the measurement)
      val deadline = System.nanoTime() + 10e9.toLong
      while (stray.exists(p =>
          ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive).orElse(false)) &&
          System.nanoTime() < deadline) Thread.sleep(100)
      Thread.sleep(500) // let the freed cores drain
    }
  }

  private implicit class Cmd(cmd: Seq[String]) {
    def ! : Int = { val p = new ProcessBuilder(cmd: _*).start(); p.waitFor() }
  }

  /** CLOCK EQUALIZATION by ACTIVITY MATCHING (round 4). On this host the
    * package clock falls with the number of ACTIVE cores (in-run ALU probes,
    * run d: 696 Mops/thread at 1 active core, 661 at 5, 556 at 9, 329 at
    * 32; run e read 654 at 1, 551 at 4 — the ladder drifts with co-tenant
    * load, which is why the emitted metric text interpolates the CURRENT
    * run's own probe readings instead of these historical constants) — so
    * the small side of a scaling pair systematically runs ~5% faster per
    * cycle than the large side, which directly depresses the measured wall
    * ratio. A real N→4N cluster adds machines at IDENTICAL clocks, so the
    * cluster-faithful comparison runs both sides at the same activity
    * level: during the SMALL side of each pair (and its probes and control
    * brackets) a register-only ALU spinner is pinned to exactly the cores
    * the LARGE side would additionally use. The spinner touches no
    * L3/memory (AluProbe-style LCG chains in registers), so it cannot
    * contend with the measured cores for anything except the package
    * power/clock budget — which is precisely the term being equalized.
    * That no-contention claim assumes the spun logical CPUs are not SMT
    * siblings of the measured ones (siblings share execution ports):
    * `smtSiblingsPresent` reads the kernel topology and DISABLES
    * equalization on any SMT host, so the assumption is asserted, not
    * hoped. Matched clocks are verified ON the record by the per-side ALU
    * probes (clock_pair*, systematic component ≈ 1.0; residual swings are
    * co-tenant DVFS noise the qualification gate still screens), and each
    * pair additionally emits the UNequalized small-side clock reading
    * (clock_unequalized_pair*) so the size of the removed term is itself
    * data. NOTE for cross-run comparisons: equalization lifts
    * scaling_efficiency / triples_per_sec@1 / total_sec_min@1 by the ~5%
    * term relative to pre-round-4 records under the same key names — key
    * any cross-run table on the emitted `clock_equalized` flag
    * (BASELINE.md's run index does). Disable with SPARK_GRAFT_EQ_CLOCK=0.
    */
  /** "a-b,c" cpu-list syntax from sysfs (thread_siblings_list). */
  private[graft] def parseCpuList(s: String): Seq[Int] =
    s.trim.split(',').toSeq.filter(_.nonEmpty).flatMap { tok =>
      tok.split('-') match {
        case Array(a)    => Seq(a.trim.toInt)
        case Array(a, b) => a.trim.toInt to b.trim.toInt
        case _           => Nil
      }
    }

  /** True iff any online CPU reports an SMT sibling (a second logical CPU on
    * its physical core). Unreadable topology (non-Linux, masked sysfs) is
    * treated as no-SMT-detected — the probes would still catch a clock skew.
    */
  private[graft] lazy val smtSiblingsPresent: Boolean =
    try {
      (0 until Runtime.getRuntime.availableProcessors()).exists { c =>
        val f = new File(
          s"/sys/devices/system/cpu/cpu$c/topology/thread_siblings_list")
        f.exists() && parseCpuList(
          java.nio.file.Files.readString(f.toPath)).exists(_ != c)
      }
    } catch { case _: Throwable => false }

  private lazy val equalizeClock = {
    val wanted = !sys.env.get("SPARK_GRAFT_EQ_CLOCK").contains("0")
    if (wanted && smtSiblingsPresent)
      System.err.println("[bench] SMT siblings detected — clock equalization " +
        "DISABLED (a spinner on a sibling would contend for execution ports, " +
        "not just the package clock budget); clock_equalized=0")
    wanted && !smtSiblingsPresent
  }

  /** Spin cores [from, until) for the duration of `body`. A spinner that
    * dies (at startup or mid-measurement) invalidates the sample — the
    * measurement would run unequalized while the record says equalized — so
    * both cases THROW and the caller's retry logic re-measures.
    */
  private def withSpin[T](from: Int, until: Int)(body: => T): T = {
    val hi = math.min(until, Runtime.getRuntime.availableProcessors())
    val nSpin = hi - from
    if (!equalizeClock || nSpin <= 0) body
    else {
      val cmd = Seq("taskset", "-c", s"$from-${hi - 1}", javaBin,
        "-Xmx64m", "-XX:+UseSerialGC", s"-XX:ActiveProcessorCount=$nSpin",
        "-cp", classpath, "graft.Spinner", nSpin.toString)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      var bodyDone = false
      try {
        // let the spinner threads JIT and the package clock settle
        Thread.sleep(500)
        require(p.isAlive, "clock spinner died at startup — sample would be " +
          "unequalized but labeled clock_equalized=1")
        val r = body
        bodyDone = true
        r
      } finally {
        val survived = p.isAlive
        p.destroyForcibly()
        p.waitFor()
        // only raise the mid-measurement death if the body itself succeeded
        // (otherwise the original exception must propagate)
        if (bodyDone && !survived)
          sys.error("clock spinner died mid-measurement — sample discarded")
      }
    }
  }

  private final case class LevelResult(
      cpus: Int, triples: Long, medianSec: Double, minSec: Double,
      maxSec: Double, medianStages: Map[String, Double], aluMops: Double,
      memMlongs: Double,
      // small sides only, when equalization is active: the same ALU probe
      // run WITHOUT the spinner, so the removed turbo term is on the record
      aluUnspun: Double = 0.0,
      // the child stopped sampling early because a measured run exceeded
      // the burst-abort threshold (see abortThreshold) — the side is
      // burst-inflated and further samples would only burn budget
      abortedSlow: Boolean = false)

  /** BURST-ABORT threshold (round 5), pure for unit testing: once the run
    * has its own per-side floors (i.e. the minimum forced fallback pairs
    * exist — the guard is DISABLED before that, so the all-pairs fallback
    * set can never be starved), a measured run that exceeds `mult` × the
    * side's floor is inside a co-tenant burst that floor-tol qualification
    * would disqualify anyway — this run's window measured identical code at
    * 336 s and 74.9 s forty minutes apart. Completing the side's remaining
    * samples (and the partner side) would burn 20-35 min of pair budget
    * measuring noise, so the child stops sampling after the offending run
    * and the parent skips the rest of the pair. 0 = disabled.
    */
  private[graft] def abortThreshold(floors: Seq[Double], mult: Double,
      haveMinPairs: Boolean): Double =
    if (!haveMinPairs || floors.isEmpty || mult <= 0) 0.0
    else floors.min * mult

  /** Per-level clock probe in a DEDICATED child JVM pinned to the level's
    * WORKER cores (`pin`), n concurrent chains. Running the probe inside the
    * Spark driver JVM would be wrong in cluster mode — the driver is pinned
    * to its own 2 cores, so an n-thread probe there measures thread
    * oversubscription, not worker-core clocks.
    */
  /** Returns (aluMopsPerThread, memMlongsPerThread) for n threads on `pin`;
    * `aluOnly` skips the memory-streaming pass (used for the cheap
    * unequalized-clock reading emitted next to each equalized sample).
    */
  private def probeClock(pin: String, n: Int,
      aluOnly: Boolean = false): (Double, Double) = {
    val heap = s"${256 * n + 512}m"
    val cmd = Seq("taskset", "-c", pin, javaBin, s"-Xmx$heap",
      "-cp", classpath, "graft.AluProbe", n.toString) ++
      (if (aluOnly) Seq("alu") else Nil)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    require(proc.waitFor() == 0, s"clock probe failed:\n$out")
    def line(tag: String): Double =
      out.linesIterator.find(_.startsWith(tag)).map(_.trim.split("\\s+")(2).toDouble)
        .getOrElse(sys.error(s"no $tag line from probe:\n$out"))
    (line("ALU "), if (aluOnly) 0.0 else line("MEM "))
  }

  /** Pure-compute Spark CONTROL in a dedicated child JVM, pinned exactly
    * like the dataflow child at the same level (n worker cores + 1 driver
    * core, ActiveProcessorCount=n+1): a codegen'd `range → xxhash64 →
    * bit_xor` aggregation — no strings, no parquet, trivially cache-resident.
    * Run INSIDE each interleaved pair's noise window, it separates the
    * protocol/framework from the dataflow on the record: if the control
    * scales ~0.9 in the same window where the string/parquet dataflow
    * scales ~0.7, the gap is the shared L3/memory system, not the harness.
    * Returns the min-of-runs wall seconds (same estimator as the pair).
    */
  /** Probe-gate policy, pure for unit testing: skip the (expensive)
    * dataflow pair iff the PRE control bracket proves the window dirty
    * (`preCtrl < ctrlMin` — the pair could not qualify) AND the budget
    * reserve still fits the minimum ungated fallback pairs. Once
    * `elapsedSec` eats into the reserve (`(minPairs - bufSize) ×
    * estPairSec` before the budget ends), pairs run regardless of window
    * state so a never-clean window still yields the all-pairs fallback
    * median. A missing control (cluster mode / ctrlRuns=0) never gates.
    */
  private[graft] def gateSkip(preCtrl: Option[Double], ctrlMin: Double,
      bufSize: Int, minPairs: Int, elapsedSec: Double, budgetSec: Double,
      estPairSec: Double): Boolean = {
    val mustRun = bufSize < minPairs &&
      elapsedSec > budgetSec - (minPairs - bufSize) * estPairSec
    !mustRun && preCtrl.exists(_ < ctrlMin)
  }

  // --- Cross-run pair ledger (round 5) -----------------------------------
  //
  // Clean measurement windows on this co-tenanted host are scarce: a full
  // 110-minute run frequently ends with 0-1 qualified pairs even though the
  // probe gate spends dirty time in cheap sleeps. The ledger persists every
  // COMPLETED scaling pair (with all of its qualification inputs) to an
  // append-only JSONL file, so qualified pairs ACCUMULATE across record
  // runs and the final artifact's headline can be the median of >= K
  // qualified pairs gathered over several windows instead of whatever one
  // window happened to yield.
  //
  // Soundness rules (all mechanical, no hand-picking):
  //   * protocol identity — a history pair is admitted only if its
  //     measured-path version stamp, exact canonical-triple count (a strong
  //     input+code fingerprint), clock-equalization flag, per-side sample
  //     count and cpu budget all equal the current run's;
  //   * thresholds at READ time — control/clock/membw windows are applied
  //     from the CURRENT run's thresholds, so a re-derived window (e.g. the
  //     equalized clock band) re-reads history under the new rule;
  //   * floors PER ORIGINATING RUN — a uniformly-suppressed window still
  //     yields an unbiased wall RATIO (both sides slow equally; the ratio
  //     gates are built on exactly this premise), so absolute floors are
  //     only comparable within one run: each history pair is floor-checked
  //     against the min sides of ITS OWN run's pairs, never a global
  //     all-time floor (which would reject valid slow-window pairs), and
  //     single-pair runs are excluded because they are their own floor.

  /** TRUE median: even-count sets average the two middle elements. Round 5's
    * `xs.sorted.apply(xs.size / 2)` reported the UPPER middle on even counts
    * — with 2 qualified pairs {0.776, 0.8135} the driver artifact's headline
    * read 0.8135 where the statistical median is 0.795 (VERDICT r5 item 2);
    * every even-count headline carried the same small optimistic bias. Used
    * everywhere a headline or summary median is computed (snapshot,
    * all-pairs, union, per-level summaries).
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Locale-independent "%.4f" (ADVICE r5: the `f""` interpolator formats
    * with the default JVM locale — a comma-decimal locale would write ledger
    * numbers `numField` silently truncates at the integer part).
    */
  private[graft] def d4(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** Measured-dataflow version stamp persisted with every ledger pair.
    * MUST be bumped on any change to the measured code path (anything the
    * timed child executes: pipeline, link, canonicalize, materialize,
    * input generation/replication) — sampling-policy-only changes to Bench
    * keep it. Exact canonical-triple equality is the second guard.
    */
  // r06.1: checkpoint column pruning in the measured pipeline (ts dropped
  // from the wide mention form; kind dropped from the staged wide; score/
  // fractie_id dropped from the staged link output) — resident block bytes
  // changed, so r05.1 history pairs are no longer protocol-identical
  private[graft] val MeasuredPathVersion = "r06.1"

  /** One completed scaling pair as persisted in the ledger. `ctrl` is the
    * min of the present brackets (same reading qualification uses).
    */
  private[graft] case class LedgerPair(run: String, ts: Long, source: String,
      proto: String, clockEq: Boolean, pairSamples: Int, cpus: Int,
      triples: Long, loMin: Double, hiMin: Double, clock: Double,
      membw: Double, ctrlPre: Option[Double], ctrlPost: Option[Double]) {
    def wall: Double = (loMin / hiMin) / 4.0
    def ctrl: Option[Double] = (ctrlPre.toSeq ++ ctrlPost.toSeq).minOption
  }

  private[graft] def ledgerLine(p: LedgerPair): String = {
    val opt = Seq(
      p.ctrlPre.map(v => s""""ctrl_pre":${d4(v)}"""),
      p.ctrlPost.map(v => s""""ctrl_post":${d4(v)}""")).flatten
    (Seq(
      s""""run":"${p.run}"""",
      s""""ts":${p.ts}""",
      s""""source":"${p.source}"""",
      s""""proto":"${p.proto}"""",
      s""""clock_eq":${if (p.clockEq) 1 else 0}""",
      s""""pair_samples":${p.pairSamples}""",
      s""""cpus":${p.cpus}""",
      s""""triples":${p.triples}""",
      s""""lo_min":${d4(p.loMin)}""",
      s""""hi_min":${d4(p.hiMin)}""",
      s""""clock":${d4(p.clock)}""",
      s""""membw":${d4(p.membw)}""") ++ opt).mkString("{", ",", "}")
  }

  // a malformed numeric token (truncated append leaving a bare '+'/exponent
  // the char class matches but toDouble rejects) must skip the LINE, not
  // null the whole history merge (ADVICE r5)
  private def numField(s: String, k: String): Option[Double] =
    ("\"" + k + "\":(-?[0-9.eE+]+)").r.findFirstMatchIn(s)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption)
  private def strField(s: String, k: String): Option[String] =
    ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(s).map(_.group(1))

  /** Parses one ledger JSONL line; None on any missing required field (a
    * malformed line is skipped, never fatal — the ledger is advisory).
    */
  private[graft] def parseLedgerLine(s: String): Option[LedgerPair] =
    for {
      run <- strField(s, "run")
      ts <- numField(s, "ts")
      proto <- strField(s, "proto")
      clockEq <- numField(s, "clock_eq")
      pairSamples <- numField(s, "pair_samples")
      cpus <- numField(s, "cpus")
      triples <- numField(s, "triples")
      loMin <- numField(s, "lo_min")
      hiMin <- numField(s, "hi_min") if hiMin > 0
      clock <- numField(s, "clock")
      membw <- numField(s, "membw")
    } yield LedgerPair(run, ts.toLong, strField(s, "source").getOrElse(""),
      proto, clockEq != 0, pairSamples.toInt, cpus.toInt, triples.toLong,
      loMin, hiMin, clock, membw,
      numField(s, "ctrl_pre"), numField(s, "ctrl_post"))

  /** Protocol-identity filter for history pairs (see soundness rules). */
  private[graft] def ledgerMatches(p: LedgerPair, proto: String,
      clockEq: Boolean, pairSamples: Int, cpus: Int, triples: Long,
      excludeRun: String): Boolean =
    p.proto == proto && p.clockEq == clockEq &&
      p.pairSamples == pairSamples && p.cpus == cpus &&
      p.triples == triples && p.run != excludeRun

  /** Re-qualifies history pairs under the CURRENT thresholds with floors
    * computed per originating run; runs with fewer than `minGroup` pairs
    * are excluded (a lone pair is trivially within its own floor). Pure —
    * unit-tested in BenchPolicySpec.
    */
  private[graft] def ledgerQualified(history: Seq[LedgerPair],
      ctrlMin: Double, clockLo: Double, clockHi: Double, membwLo: Double,
      membwHi: Double, floorTol: Double, minGroup: Int = 2): Seq[LedgerPair] =
    history.groupBy(_.run).valuesIterator.filter(_.size >= minGroup)
      .flatMap { g =>
        val floorLo = g.map(_.loMin).min
        val floorHi = g.map(_.hiMin).min
        g.filter { p =>
          p.ctrl.forall(_ >= ctrlMin) &&
            p.clock >= clockLo && p.clock <= clockHi &&
            p.membw >= membwLo && p.membw <= membwHi &&
            p.loMin <= floorLo * floorTol &&
            p.hiMin <= floorHi * floorTol
        }
      }.toSeq.sortBy(_.ts)

  /** Protocol-identical history pairs from the ledger file, re-qualified
    * under the given (current-run) thresholds — the ONE implementation both
    * the shutdown snapshot and the final artifact call (VERDICT r5 item 3:
    * the round-5 snapshot skipped the merge, so a timeout-killed run — now
    * the common case under the external ~60-min timeout — reported in-run
    * qualification only, not the protocol-defined union headline). Never
    * throws; returns (loaded, qualified).
    */
  private[graft] def ledgerUnion(ledgerPath: java.nio.file.Path,
      enabled: Boolean, proto: String, clockEq: Boolean, pairSamples: Int,
      cpus: Int, triples: Long, excludeRun: String, ctrlMin: Double,
      clockLo: Double, clockHi: Double, membwLo: Double, membwHi: Double,
      floorTol: Double): (Seq[LedgerPair], Seq[LedgerPair]) =
    if (!enabled || !java.nio.file.Files.exists(ledgerPath)) (Nil, Nil)
    else try {
      import scala.jdk.CollectionConverters._
      val hist = java.nio.file.Files.readAllLines(ledgerPath).asScala.toSeq
        .flatMap(parseLedgerLine)
        .filter(ledgerMatches(_, proto, clockEq, pairSamples, cpus, triples,
          excludeRun))
      (hist, ledgerQualified(hist, ctrlMin, clockLo, clockHi, membwLo,
        membwHi, floorTol))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ledger read failed (non-fatal): $e")
        (Nil, Nil)
    }

  private[graft] def runControl(n: Int, runs: Int, partner: Int): Double = {
    val extra = sys.env.getOrElse("SPARK_GRAFT_DRIVER_CORE", "1").toInt
    val avail = Runtime.getRuntime.availableProcessors()
    val pinned = math.min(n + extra, avail)
    val pinnedPartner = math.min(partner + extra, avail)
    withSpin(pinned, pinnedPartner) { runControlPinned(n, runs, pinned) }
  }

  private def runControlPinned(n: Int, runs: Int, pinned: Int): Double = {
    val errFile = java.io.File.createTempFile(s"bench-ctrl-$n-", ".log")
    val cmd = Seq("taskset", "-c", s"0-${pinned - 1}", javaBin) ++ jdk17AddOpens ++
      Seq("-Xmx4g", s"-XX:ActiveProcessorCount=${n + 1}",
        "-Dspark.ui.enabled=false", "-cp", classpath,
        "graft.ComputeControl", n.toString, runs.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(errFile)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    require(rc == 0, s"compute control n=$n failed rc=$rc")
    errFile.delete()
    out.linesIterator.filter(_.startsWith("CTRL ")).map(_.trim.split("\\s+")(2).toDouble).min
  }

  /** Run one level's child driver process; parse its RUN lines. `abortSec`
    * (0 = off) is forwarded to the child, which stops sampling after any
    * measured run slower than it (burst-abort, see [[abortThreshold]]) —
    * the child then prints `ABORTSLOW` and the partial RUN set is accepted.
    */
  private def runChild(masterUrl: String, n: Int, driverPin: String,
      inputDir: String, warmDir: String, runs: Int, probe: (Double, Double),
      abortSec: Double = 0.0): LevelResult = {
    val errFile = java.io.File.createTempFile(s"bench-child-$n-", ".log")
    val extraOpts = sys.env.get("SPARK_GRAFT_CHILD_OPTS")
      .map(_.split("\\s+").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val cmd = Seq("taskset", "-c", driverPin, javaBin) ++ jdk17AddOpens ++
      extraOpts ++
      Seq(s"-Xmx${sys.env.getOrElse("SPARK_GRAFT_CHILD_MEM", "20g")}",
        s"-XX:ActiveProcessorCount=${n + 1}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
        "graft.BenchChild", masterUrl, n.toString, inputDir, warmDir,
        runs.toString, f"$abortSec%.3f")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(errFile) // a pipe would deadlock on Spark's stderr logging
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    lazy val errTail = {
      val t = java.nio.file.Files.readString(errFile.toPath)
      t.substring(math.max(0, t.length - 4000))
    }
    require(rc == 0, s"bench child n=$n failed rc=$rc\n$errTail")
    if (!sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) errFile.delete()
    val parsed = out.linesIterator.filter(_.startsWith("RUN ")).map { l =>
      val f = l.trim.split("\\s+") // RUN n total build write
      (f(1).toLong, Map(
        "total_sec" -> f(2).toDouble, "extract_link_cc_sec" -> f(3).toDouble,
        "graph_write_sec" -> f(4).toDouble))
    }.toSeq
    val abortedSlow = out.linesIterator.exists(_.startsWith("ABORTSLOW"))
    require(parsed.size == runs || (abortedSlow && parsed.nonEmpty),
      s"expected $runs RUN lines, got:\n$out")
    val ns = parsed.map(_._1).distinct
    require(ns.size == 1, s"non-deterministic result at $n cores: $ns")
    val sorted = parsed.sortBy(_._2("total_sec"))
    // true median over the side's runs: even counts (pairSamples default 2)
    // average the two middle runs' stage maps instead of reporting the upper
    val med: Map[String, Double] =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)._2
      else {
        val (a, b) = (sorted(sorted.size / 2 - 1)._2, sorted(sorted.size / 2)._2)
        a.map { case (k, v) => k -> (v + b.getOrElse(k, v)) / 2 }
      }
    LevelResult(n, ns.head, med("total_sec"),
      sorted.head._2("total_sec"), sorted.last._2("total_sec"), med,
      probe._1, probe._2, abortedSlow = abortedSlow)
  }

  /** Local mode: child pinned to n worker cores + 1 driver core (on a real
    * cluster the driver is a separate node; without the extra core,
    * "local[1]" serializes driver scheduling into the single worker core —
    * an artifact no cluster has).
    */
  private def measureLevelLocal(n: Int, inputDir: String, warmDir: String,
      runs: Int, partner: Int, abortSec: Double = 0.0): LevelResult = {
    val extra = sys.env.getOrElse("SPARK_GRAFT_DRIVER_CORE", "1").toInt
    val avail = Runtime.getRuntime.availableProcessors()
    val pinned = math.min(n + extra, avail)
    // activity matching: spin exactly the cores the pair's LARGE side would
    // additionally use, so both sides run at the same package clock
    val pinnedPartner = math.min(partner + extra, avail)
    // the unequalized clock term per side, on the record (ADVICE r4): the
    // same ALU probe without the spinner, immediately before the spun
    // measurement — its ratio to the spun probe is the turbo term removed
    val unspun =
      if (equalizeClock && pinnedPartner > pinned)
        probeClock(s"0-${pinned - 1}", n, aluOnly = true)._1
      else 0.0
    withSpin(pinned, pinnedPartner) {
      val alu = probeClock(s"0-${pinned - 1}", n)
      runChild(s"local[$n]", n, s"0-${pinned - 1}", inputDir, warmDir, runs,
        alu, abortSec)
        .copy(aluUnspun = unspun)
    }
  }

  /** Cluster mode: standalone master + n pinned single-core worker JVMs. */
  private def measureLevelCluster(n: Int, inputDir: String, warmDir: String,
      runs: Int): LevelResult = {
    val workerSpan = math.min(n, WorkerCores)
    val alu = probeClock(s"0-${workerSpan - 1}", n)
    val workers = (0 until n).map(startWorker)
    try {
      Thread.sleep(4000 + 150L * n) // registration
      runChild(MasterUrl, n, DriverCores, inputDir, warmDir, runs, alu)
    } finally {
      workers.foreach(_.destroyForcibly())
      killStray()
      Thread.sleep(1500)
    }
  }

  /** EXTERNAL-TERMINATION GUARANTEE (round 5, completes the partial-result
    * work): a record run can exceed an unattended harness's process timeout
    * (the pair budget alone is 110 min), and a SIGTERM mid-run must not
    * reduce 90 minutes of collected measurements to an empty artifact the
    * way round 4's vanished-input crash did. After every measured pair the
    * loop refreshes a compact snapshot JSON here; a shutdown hook prints it
    * if (and only if) the full artifact was never emitted. kill -9 remains
    * unrecoverable by design — everything softer now leaves evidence.
    */
  @volatile private var partialJson: Option[String] = None
  @volatile private var finalEmitted = false

  /** The artifact line is ALSO written here (partial snapshots and the final
    * emit), so an externally killed run stays machine-readable even when the
    * stdout tail is interleaved with launcher noise (VERDICT r5 item 1b).
    */
  private def artifactFile: Option[String] =
    Some(sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_FILE",
      "/root/repo/bench-runs/last_artifact.json")).filter(_.nonEmpty)

  private def writeArtifactFile(j: String): Unit = artifactFile.foreach { f =>
    try {
      val p = java.nio.file.Paths.get(f)
      val parent = p.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      java.nio.file.Files.write(p, (j + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
  }

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    def mainElapsedSec: Double = (System.nanoTime() - tMain) / 1e9
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finalEmitted) partialJson.foreach { j =>
        println(j); System.out.flush()
      }
    }))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // a leftover record run from an earlier session would sit on every
    // core for its full budget — clear it before anything is measured
    killOtherBenches()
    // input sized so the run measures the DATAFLOW, not the harness: at
    // 96× (≈9.7 M turns → 12.8 M triples) the fixed per-run costs (job
    // scheduling, AQE stage setup, commit, plan time — ~6 s/run) amortize
    // into the noise at every level; throughput is replication-invariant
    // (measured: 399 k t/s at 48×, 396 k at 96×) while the 1-vs-4 wall
    // ratio stops being depressed by the constant term
    // repl 128 (was 96, r3; 48 in r2): the fixed per-run costs (driver
    // scheduling, AQE futures, warm gaps — TASKGAP ~2-5 s) weigh ~4x more
    // on the short 4-core side than the 1-core side, so a larger input
    // raises the measured wall ratio toward the true dataflow scaling
    // (measured: repl48 floors 0.665, repl96 floors 0.728 on the same box)
    val repl = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPL", "128").toInt
    val runsPerLevel = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // "local" (default): core-pinned local[n] child JVMs — the blessed
    // two-parallelism-level evidence, free of multi-JVM memory overcommit.
    // "cluster": a real standalone master + single-core worker JVMs per
    // level — the spark-submit-on-a-cluster shape (BASELINE.md discusses
    // both; cluster mode at 32 workers overcommits this box's memory).
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "local")
    val hiLevels =
      if (cpus >= 8) Seq(cpus / 4, cpus).distinct.filterNot(Seq(1, 4).contains) else Nil

    val (inputDir, warmDir) = prepareInput(sfDir, repl)

    killStray()
    def measureOnce(l: Int, runs: Int, partner: Int,
        abortSec: Double = 0.0): LevelResult = {
      // crash safety: the tmpfs input is externally deletable mid-run
      // (round 4's driver artifact died exactly this way) — cheap existence
      // check + deterministic rebuild before every child launch
      ensureInput(sfDir, repl)
      if (mode == "cluster") measureLevelCluster(l, inputDir, warmDir, runs)
      else measureLevelLocal(l, inputDir, warmDir, runs, partner, abortSec)
    }
    // one retry per measurement: a transient child failure (noisy-host OOM,
    // port clash, vanished tmpfs input) must not zero the whole unattended
    // record run — and the retry re-ensures the input rather than blindly
    // re-reading the same missing path
    def measure(l: Int, runs: Int, partner: Int,
        abortSec: Double = 0.0): LevelResult =
      try measureOnce(l, runs, partner, abortSec) catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] level $l failed (${String.valueOf(e.getMessage).take(300)}); retrying once")
          killStray()
          measureOnce(l, runs, partner, abortSec)
      }
    def withMaster[T](f: => T): T =
      if (mode == "cluster") {
        val master = startMaster()
        try { Thread.sleep(4000); f }
        finally { master.destroyForcibly(); killStray() }
      } else f

    // PAIRED headline measurement: this virtual host's noise (co-tenant
    // load, DVFS state) drifts on a minutes scale, so measuring all the
    // 1-core runs and then all the 4-core runs ~10 minutes later samples
    // DIFFERENT noise regimes — identical code measured 0.62–0.84 across
    // record runs that way. Alternating 1-core and 4-core child JVMs puts
    // each ratio inside one noise window (each child also carries its own
    // in-window clock probe); the MEDIAN OF PAIRED RATIOS is the robust
    // estimator, and every pair's ratio is emitted so the spread is on the
    // record. Within a pair, each side runs `pairSamples` (default 2)
    // measured runs and the pair ratio uses the per-side MINIMA: the min
    // over k back-to-back runs is the standard estimator of the undisturbed
    // time on a shared host (co-tenant bursts only ever ADD time — identical
    // code measured per-level spreads of 2-3x inside single record runs),
    // and taking it symmetrically on both sides cannot bias the ratio. All
    // samples are emitted (per-pair minima + per-level min/max).
    val pairSamples = sys.env.getOrElse("SPARK_GRAFT_PAIR_SAMPLES", "2").toInt
    // each pair also carries an in-window pure-compute CONTROL (see
    // runControl): dataflow ratio and control ratio sampled under the SAME
    // host noise, so the artifact itself shows the harness/framework scale
    // and the dataflow's residual gap is attributable to shared hardware.
    // Round 4: the control runs as BRACKETS — once before and once after the
    // dataflow pair — and the pair's control reading is the MIN of the two.
    // Round-3 night windows proved contention is bursty WITHIN a pair's
    // ~7-minute span: a single trailing control could read 0.96 while the
    // dataflow side it didn't overlap read 0.5. A burst anywhere in the
    // window now dirties at least one bracket. Each bracket side takes the
    // min over ctrlRuns back-to-back runs (2 by default): a SINGLE-sample
    // bracket ratio is noisy enough that min(pre, post) under-reads even
    // clean windows, which would starve qualification.
    val ctrlRuns = sys.env.getOrElse("SPARK_GRAFT_CTRL_RUNS", "2").toInt
    // cross-run pair ledger (see the soundness rules at ledgerQualified):
    // every completed pair is appended; at summary time protocol-identical
    // pairs from EARLIER runs are re-qualified under this run's thresholds
    // and merged into the qualified set. SPARK_GRAFT_LEDGER=0 disables.
    val ledgerEnabled = !sys.env.get("SPARK_GRAFT_LEDGER").contains("0")
    val ledgerPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_PAIR_LEDGER", "/root/repo/bench-runs/pair_ledger.jsonl"))
    val runId = s"run-${System.currentTimeMillis()}"
    def appendLedger(lp: LedgerPair): Unit = if (ledgerEnabled) try {
      val parent = ledgerPath.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      java.nio.file.Files.write(ledgerPath,
        (ledgerLine(lp) + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ledger append failed (non-fatal): $e")
    }
    // burst detection: when a side's own k samples spread > 1.3×, a
    // co-tenant burst outlasted the sample window — take ONE extra sample
    // so the min has a chance to land outside the burst (run i measured
    // whole 4-core sides inflated ~1.9× with both samples inside one burst)
    def measureSide(l: Int, k: Int, partner: Int,
        abortSec: Double = 0.0): LevelResult = {
      val r = measure(l, k, partner, abortSec)
      // no extra sample for a burst-ABORTED side: it is already known-dirty
      // and the pair is about to be skipped — extra samples only burn budget
      if (!r.abortedSlow && k > 1 && r.maxSec / r.minSec > 1.3) {
        val extra = measure(l, 1, partner, abortSec)
        r.copy(minSec = math.min(r.minSec, extra.minSec),
          maxSec = math.max(r.maxSec, extra.maxSec))
      } else r
    }
    // WINDOW QUALIFICATION (round 4): the headline `scaling_efficiency` is
    // the median of QUALIFIED pairs only, where a pair qualifies iff every
    // mechanical window-quality signal is in range — no hand-picking:
    //   (1) in-window compute control (min of the pre/post brackets) >= 0.93
    //       — the engine itself must scale in this window;
    //   (2) clock-probe ratio 1->4 within [0.92, 1.35] — outside it the two
    //       sides ran at different effective clocks (co-tenant DVFS
    //       suppression; one r3 window measured 1.79x);
    //   (3) per-thread membw-probe ratio within [0.80, 1.30] — the memory
    //       system must look the same to both sides;
    //   (4) each side's min within floor_tol (1.12x) of the run's own
    //       observed floor for that side across ALL attempted pairs — the
    //       r3 night windows read clean controls while whole dataflow sides
    //       ran 1.4-1.8x above their floors; a burst that inflates every
    //       sample of a side is invisible to (1)-(3) but not to this.
    // Pairs keep being collected until `qualK` qualify (or maxPairs /
    // the wall budget is hit); EVERY attempted pair and every
    // qualification input is emitted, qualified or not.
    val qualK = sys.env.getOrElse("SPARK_GRAFT_QUAL_PAIRS", "3").toInt
    // round 5: 6 → 8 max pairs and 75 → 110 min budget — round 4's record
    // run hit the budget with 1 of 3 target qualified pairs; the probe gate
    // now spends dirty-window time in cheap sleeps, so a longer budget buys
    // qualified pairs, not noise
    val maxPairs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_MAX_PAIRS", "6").toInt)
    // WALL-CLOCK SIZING (round 6, VERDICT r5 item 1): the driver harness
    // kills an unattended record run at ~60 min, but round 5 budgeted
    // 110 min of pairs AND forced a 3-pair minimum — every driver artifact
    // was therefore guaranteed to be an rc=124 partial with no hi levels
    // and no ledger merge. The run is now sized to the wall clock it
    // actually gets: a TOTAL budget (default 50 min, measured from main
    // start) with a reserve for the hi levels; another pair starts only if
    // its estimated cost fits inside (total − reserve), and the forced
    // fallback-pair minimum yields to the deadline (the cross-run ledger
    // carries qualification when a short window yields few pairs). The
    // per-pair protocol (samples, probes, brackets, thresholds) is
    // unchanged — this changes only how many pairs a run attempts.
    val pairBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_PAIR_BUDGET_MIN", "35").toDouble * 60
    val totalBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_TOTAL_BUDGET_MIN", "50").toDouble * 60
    val hiReserveSec =
      sys.env.getOrElse("SPARK_GRAFT_HI_RESERVE_MIN", "9").toDouble * 60
    val ctrlMin = sys.env.getOrElse("SPARK_GRAFT_QUAL_CTRL", "0.93").toDouble
    // clock window re-derived for the equalized protocol (ADVICE r4): the
    // [0.92, 1.35] band was calibrated on UNequalized runs, where the small
    // side's single-core turbo legitimately reads ~1.1-1.2x. With activity
    // matching the systematic term is REMOVED — a truly matched pair reads
    // ~1.0 — so a wide band only admits contaminated pairs (an r05 window
    // measured an equalized pair at clock 1.31: the 4-core side ran
    // clock-suppressed by a co-tenant and its wall ratio 0.51 would have
    // DEFINED the qualified headline). Equalized default: [0.95, 1.15].
    val Array(clockQLo, clockQHi) = sys.env
      .getOrElse("SPARK_GRAFT_QUAL_CLOCK",
        if (equalizeClock) "0.95,1.15" else "0.92,1.35")
      .split(',').map(_.toDouble)
    val Array(membwQLo, membwQHi) = sys.env
      .getOrElse("SPARK_GRAFT_QUAL_MEMBW", "0.80,1.30").split(',').map(_.toDouble)
    val floorTol = sys.env.getOrElse("SPARK_GRAFT_QUAL_FLOOR_TOL", "1.12").toDouble

    case class Pair(lo: LevelResult, hi: LevelResult,
        ctrlPre: Option[Double], ctrlPost: Option[Double]) {
      def wall: Double = (lo.minSec / hi.minSec) / 4.0
      def clock: Double = if (hi.aluMops > 0) lo.aluMops / hi.aluMops else 1.0
      def membw: Double = if (hi.memMlongs > 0) lo.memMlongs / hi.memMlongs else 1.0
      def ctrl: Option[Double] = (ctrlPre.toSeq ++ ctrlPost.toSeq).minOption
    }
    def controlBracket(): Option[Double] =
      if (ctrlRuns > 0 && mode != "cluster")
        Some((runControl(1, ctrlRuns, partner = 4) /
          runControl(4, ctrlRuns, partner = 4)) / 4.0)
      else None
    // BURST-ABORT (round 5, see abortThreshold): when the 1-core side's min
    // exceeds its threshold the window is inside a burst that floor-tol
    // would disqualify — skip the 4-core side and the post bracket entirely
    // (None). A burst on the 4-core side alone still records the pair: both
    // sides are already measured and qualification handles it.
    val abortX = sys.env.getOrElse("SPARK_GRAFT_RUN_ABORT_X", "3.0").toDouble
    def measurePair(pre: Option[Double], loAbort: Double,
        hiAbort: Double): Option[Pair] = {
      val a = measureSide(1, pairSamples, partner = 4, loAbort)
      if (loAbort > 0 && a.minSec > loAbort) {
        System.err.println(f"[bench] burst-abort: 1-core min ${a.minSec}%.1f s " +
          f"> ${loAbort}%.1f s (${abortX}x run floor) — rest of pair skipped")
        None
      } else {
        val b = measureSide(4, pairSamples, partner = 4, hiAbort)
        val post = controlBracket()
        Some(Pair(a, b, pre, post))
      }
    }
    // (4) is relative to the run's own floors, so qualification is
    // re-evaluated over ALL pairs collected so far after each new pair (a
    // later, lower floor retroactively disqualifies an inflated earlier pair)
    def qualFlags(ps: Seq[Pair]): Seq[Boolean] = if (ps.isEmpty) Nil else {
      val floorLo = ps.map(_.lo.minSec).min
      val floorHi = ps.map(_.hi.minSec).min
      ps.map { p =>
        p.ctrl.forall(_ >= ctrlMin) &&
          p.clock >= clockQLo && p.clock <= clockQHi &&
          p.membw >= membwQLo && p.membw <= membwQHi &&
          p.lo.minSec <= floorLo * floorTol &&
          p.hi.minSec <= floorHi * floorTol
      }
    }

    // PROBE GATE (round 4b): a full dataflow pair costs ~13 min; a control
    // bracket costs ~1.5 min. When the PRE bracket already reads below the
    // qualification threshold the window is dirty and the pair CANNOT
    // qualify — running it anyway spends 13 min of budget measuring noise
    // (run r04_a: 7 pairs, 90 min, all in dirty windows, 0 qualified). So
    // the pre bracket doubles as a cheap gate: below threshold → record the
    // probe, sleep briefly (co-tenant bursts last minutes), retry. Purely
    // mechanical — the threshold is the SAME ctrlMin the qualifier uses,
    // every skipped probe is emitted (probe_skip_*), and a budget reserve
    // guarantees at least `runsPerLevel` ungated pairs still run if the
    // window never cleans up (forced pairs → the honest all-pairs fallback).
    val probeSleepSec =
      sys.env.getOrElse("SPARK_GRAFT_PROBE_SLEEP_SEC", "45").toDouble
    val skippedProbes = scala.collection.mutable.ArrayBuffer[Double]()
    // PARTIAL-RESULT GUARANTEE (round 5): nothing inside the measurement
    // loops may abort main. Round 4's artifact of record was a stack trace
    // because one vanished input `require`-failed through 42 minutes of
    // collected measurements. Every pair/level attempt is individually
    // caught: a failed attempt (after measure()'s own rebuild-and-retry) is
    // counted and the loop moves on; whatever pairs/levels exist at the end
    // are emitted with aborted_* markers.
    var abortedPairs = 0
    var abortedHiLevels = 0
    // pairs cut short by the burst-abort guard (1-core side over threshold);
    // bounded by the pair budget — each one consumed >= threshold seconds
    var burstAborts = 0
    val maxAborts = sys.env.getOrElse("SPARK_GRAFT_MAX_ABORTS", "4").toInt
    val (pairs, hiResults) = withMaster {
      val buf = scala.collection.mutable.ArrayBuffer[Pair]()
      var pairCostSum = 0.0
      val t0 = System.nanoTime()
      def elapsedSec: Double = (System.nanoTime() - t0) / 1e9
      val estPairSec0 =
        sys.env.getOrElse("SPARK_GRAFT_EST_PAIR_SEC", "850").toDouble
      def estPairSec: Double =
        if (buf.nonEmpty) pairCostSum / buf.size else estPairSec0
      // deadline fit: start another pair only if its estimated cost lands
      // before the hi-level reserve of the total wall budget — an unattended
      // run must reach the hi levels, the ledger merge and the final emit
      // INSIDE the external timeout (rc=0), not die mid-pair at 110%
      def fitsAnotherPair: Boolean =
        mainElapsedSec + estPairSec < totalBudgetSec - hiReserveSec
      while (buf.size < maxPairs && abortedPairs < maxAborts &&
          fitsAnotherPair &&
          (buf.size < runsPerLevel ||
            (qualFlags(buf.toSeq).count(identity) < qualK &&
              elapsedSec < pairBudgetSec))) {
        try {
          val pre = controlBracket()
          if (Bench.gateSkip(pre, ctrlMin, buf.size, runsPerLevel,
              elapsedSec, pairBudgetSec, estPairSec)) {
            skippedProbes += pre.get
            System.err.println(f"[bench] probe ${skippedProbes.size} ctrl " +
              f"${pre.get}%.3f < $ctrlMin — window dirty, pair skipped " +
              f"(elapsed ${elapsedSec}%.0f s)")
            Thread.sleep((probeSleepSec * 1000).toLong)
          } else {
            val tp = System.nanoTime()
            val haveMin = buf.size >= runsPerLevel
            val loAbort = abortThreshold(buf.map(_.lo.minSec).toSeq, abortX, haveMin)
            val hiAbort = abortThreshold(buf.map(_.hi.minSec).toSeq, abortX, haveMin)
            measurePair(pre, loAbort, hiAbort) match {
              case None =>
                burstAborts += 1
              case Some(p) =>
            buf += p
            pairCostSum += (System.nanoTime() - tp) / 1e9
            appendLedger(LedgerPair(runId, System.currentTimeMillis(),
              "live", MeasuredPathVersion, equalizeClock, pairSamples, cpus,
              p.hi.triples, p.lo.minSec, p.hi.minSec, p.clock, p.membw,
              p.ctrlPre, p.ctrlPost))
            System.err.println(f"[bench] pair ${buf.size} wall ${buf.last.wall}%.3f " +
              f"ctrl ${buf.last.ctrl.getOrElse(-1.0)}%.3f clock ${buf.last.clock}%.3f " +
              f"qualified ${qualFlags(buf.toSeq).count(identity)}/$qualK " +
              f"elapsed ${elapsedSec}%.0f s")
            // refresh the external-termination snapshot (see partialJson) —
            // runs the SAME ledger merge as the full artifact (pure
            // in-memory logic over a small file, costs milliseconds), so a
            // timeout-killed run still reports the protocol-defined union
            // headline (VERDICT r5 items 2+3: true even-count median, merge
            // in the snapshot)
            locally {
              val ps = buf.toSeq
              val flags = qualFlags(ps)
              val qualified = ps.zip(flags).collect { case (p, true) => p }
              val snapTriples = ps.map(_.hi.triples).max
              val (ledLoaded, ledQual) = ledgerUnion(ledgerPath,
                ledgerEnabled, MeasuredPathVersion, equalizeClock,
                pairSamples, cpus, snapTriples, runId, ctrlMin, clockQLo,
                clockQHi, membwQLo, membwQHi, floorTol)
              val union = qualified.map(_.wall) ++ ledQual.map(_.wall)
              val headline =
                if (union.nonEmpty) median(union)
                else median(ps.map(_.wall))
              val kv = ps.zipWithIndex.flatMap { case (p, i) =>
                Seq(s"eff_wall_pair${i + 1}" -> p.wall,
                  s"clock_pair${i + 1}" -> p.clock,
                  s"membw_pair${i + 1}" -> p.membw,
                  s"qual_pair${i + 1}" -> (if (flags(i)) 1.0 else 0.0)) ++
                  p.ctrl.map(c => s"eff_wall_control_pair${i + 1}" -> c)
              } ++ Seq(
                "scaling_efficiency" -> headline,
                "scaling_efficiency_in_run" ->
                  median((if (qualified.nonEmpty) qualified else ps).map(_.wall)),
                "scaling_efficiency_all_pairs" -> median(ps.map(_.wall)),
                "qualified_pairs" -> qualified.size.toDouble,
                "attempted_pairs" -> ps.size.toDouble,
                "ledger_pairs_loaded" -> ledLoaded.size.toDouble,
                "ledger_pairs_qualified" -> ledQual.size.toDouble,
                "qualified_pairs_union" -> union.size.toDouble,
                "triples_per_sec@4" ->
                  ps.map(p => p.hi.triples / p.hi.minSec).max,
                "clock_equalized" -> (if (equalizeClock) 1.0 else 0.0),
                "probe_skips" -> skippedProbes.size.toDouble,
                "partial" -> 1.0)
              val qjs = kv.map { case (k, v) =>
                "\"" + k + "\":" + d4(v)
              }.mkString("{", ",", "}")
              val snap =
                s"""{"metric":"PARTIAL bench artifact - the process was terminated externally (timeout/SIGTERM) before the run completed; emitted by the shutdown hook from the pairs measured so far, with the standard mechanical qualification flags AND the cross-run ledger merge (headline = median over the union of in-run qualified pairs + protocol-identical qualified history pairs; falls back to the all-pairs median when the union is empty); hi levels not reached","value":${f"${ps.map(p => p.hi.triples / p.hi.minSec).max}%.2f"},"unit":"triples/sec","queries":$qjs,"sf":"$sfDir"}"""
              partialJson = Some(snap)
              writeArtifactFile(snap)
            }
            }
          }
        } catch {
          case e: Throwable =>
            abortedPairs += 1
            System.err.println(s"[bench] pair attempt aborted ($abortedPairs/" +
              s"$maxAborts): ${String.valueOf(e.getMessage).take(300)}")
            killStray()
        }
      }
      // the hi pair (cpus/4 vs cpus) is activity-matched too: its small
      // side spins up to the large side's core count
      val h = hiLevels.flatMap { l =>
        try Some(measure(l, runsPerLevel, partner = cpus)) catch {
          case e: Throwable =>
            abortedHiLevels += 1
            System.err.println(s"[bench] hi level $l aborted: " +
              s"${String.valueOf(e.getMessage).take(300)}")
            killStray()
            None
        }
      }
      (buf.toSeq, h)
    }
    val quals = qualFlags(pairs)
    val qualifiedPairs = pairs.zip(quals).collect { case (p, true) => p }
    // the headline set: qualified pairs, or (flagged via qualified_pairs=0)
    // all pairs when no window qualified — never silently absent
    val headlinePairs = if (qualifiedPairs.nonEmpty) qualifiedPairs else pairs

    val allResults =
      pairs.flatMap(p => Seq(p.lo, p.hi)) ++ hiResults
    // degraded-run emission: every attempt failed (co-tenant chaos, full
    // tmpfs, …) — emit a parseable artifact saying so instead of crashing
    if (allResults.isEmpty) {
      finalEmitted = true
      val degraded = s"""{"metric":"BENCH DEGRADED: every measurement attempt failed after retries ($abortedPairs pair attempts, $abortedHiLevels hi levels) — no timing collected; see stderr log","value":0.0,"unit":"triples/sec","queries":{"aborted_pairs":$abortedPairs.0,"aborted_hi_levels":$abortedHiLevels.0,"qualified_pairs":0.0,"attempted_pairs":0.0},"sf":"$sfDir"}"""
      writeArtifactFile(degraded)
      println(degraded)
      return
    }
    // cluster size changing the result count is a correctness red flag —
    // but an unattended record run must still emit its evidence: flag it
    // in the JSON (triples_mismatch > 0) instead of require-aborting
    val triplesMismatch = allResults.map(_.triples).distinct.size - 1
    if (triplesMismatch > 0)
      System.err.println("[bench] RESULT MISMATCH across levels: " +
        allResults.map(r => r.cpus -> r.triples).toString)
    val n = allResults.map(_.triples).max

    // ledger merge: protocol-identical pairs from EARLIER runs, re-qualified
    // under THIS run's thresholds against their own runs' floors (same
    // helper the shutdown snapshot calls)
    val (ledgerLoaded, ledgerQual) = ledgerUnion(ledgerPath, ledgerEnabled,
      MeasuredPathVersion, equalizeClock, pairSamples, cpus, n,
      excludeRun = runId, ctrlMin, clockQLo, clockQHi, membwQLo, membwQHi,
      floorTol)
    // the union headline: in-run qualified pairs + history-qualified pairs;
    // empty union -> the existing all-pairs fallback median
    val unionWalls = qualifiedPairs.map(_.wall) ++ ledgerQual.map(_.wall)

    def medianOf(rs: Seq[LevelResult]): LevelResult = {
      val sorted = rs.sortBy(_.medianSec)
      // even counts: average the two middle elements' numeric fields (same
      // true-median convention as every scalar headline — see Bench.median)
      val base =
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else {
          val (a, b) = (sorted(sorted.size / 2 - 1), sorted(sorted.size / 2))
          a.copy(
            medianSec = (a.medianSec + b.medianSec) / 2,
            medianStages = a.medianStages.map { case (k, v) =>
              k -> (v + b.medianStages.getOrElse(k, v)) / 2 },
            aluMops = (a.aluMops + b.aluMops) / 2,
            memMlongs = (a.memMlongs + b.memMlongs) / 2,
            aluUnspun = (a.aluUnspun + b.aluUnspun) / 2)
        }
      base.copy(minSec = rs.map(_.minSec).min, maxSec = rs.map(_.maxSec).max)
    }
    // the 1- and 4-core level summaries come from the HEADLINE (qualified)
    // pairs — same set the efficiency median uses; with EVERY pair aborted
    // (partial-run emission) only the hi levels are summarized
    val results = (if (headlinePairs.nonEmpty)
      Seq(medianOf(headlinePairs.map(_.lo)), medianOf(headlinePairs.map(_.hi)))
    else Nil) ++ hiResults
    val byLevel = results.map(r => r.cpus -> r).toMap

    def med(xs: Seq[Double]): Double = median(xs)
    // per-pair efficiencies: wall, in-window clock ratio, cycle-normalized.
    // Each side's time is the MIN over its pairSamples back-to-back runs
    // (co-tenant bursts only add time; the symmetric min estimates the
    // undisturbed time on both sides without biasing the ratio).
    val effLow = if (headlinePairs.isEmpty) 0.0 else med(headlinePairs.map(p => p.wall * p.clock))
    val effLowWall = if (headlinePairs.isEmpty) 0.0 else med(headlinePairs.map(_.wall))
    val clockLow = if (headlinePairs.isEmpty) 1.0 else med(headlinePairs.map(_.clock))
    def effWall(lo: Int, hi: Int): Double =
      (byLevel(lo).medianSec / byLevel(hi).medianSec) / (hi.toDouble / lo)
    def effCycles(lo: Int, hi: Int): Double = {
      val cr = if (byLevel(hi).aluMops > 0) byLevel(lo).aluMops / byLevel(hi).aluMops else 1.0
      effWall(lo, hi) * cr
    }
    val hiPairOk = cpus >= 8 && byLevel.contains(cpus / 4) && byLevel.contains(cpus)
    val effHigh = if (hiPairOk) Some(effCycles(cpus / 4, cpus)) else None
    val effHighWall = if (hiPairOk) Some(effWall(cpus / 4, cpus)) else None

    // tmpfs hygiene
    try {
      import scala.reflect.io.Directory
      new Directory(new File(ShmRoot)).deleteRecursively()
    } catch { case _: Throwable => () }

    val topLevel = byLevel.keys.max
    val tpsTop = n / byLevel(topLevel).medianSec
    val perLevel = results.flatMap { r =>
      Map(
        s"total_sec@${r.cpus}" -> r.medianSec,
        s"total_sec_min@${r.cpus}" -> r.minSec,
        s"total_sec_max@${r.cpus}" -> r.maxSec,
        s"triples_per_sec@${r.cpus}" -> n / r.medianSec) ++
        r.medianStages.collect {
          case (k, v) if k != "total_sec" => s"$k@${r.cpus}" -> v
        } ++ Map(
          s"alu_mops_per_thread@${r.cpus}" -> r.aluMops,
          s"mem_mlongs_per_thread@${r.cpus}" -> r.memMlongs)
    }.toMap
    // per-pair transparency: every attempted pair — qualified or not — with
    // every qualification input (control brackets, clock/membw ratios, side
    // minima and spreads) and its flag on the record
    val pairKeys = pairs.zipWithIndex.flatMap { case (p, i) =>
      val n = i + 1
      Seq(
        s"eff_cycle_pair$n" -> p.wall * p.clock,
        s"eff_wall_pair$n" -> p.wall,
        s"pair${n}_min_sec@1" -> p.lo.minSec,
        s"pair${n}_min_sec@4" -> p.hi.minSec,
        s"pair${n}_spread@1" -> p.lo.maxSec / p.lo.minSec,
        s"pair${n}_spread@4" -> p.hi.maxSec / p.hi.minSec,
        s"clock_pair$n" -> p.clock,
        s"membw_pair$n" -> p.membw,
        s"qual_pair$n" -> (if (quals(i)) 1.0 else 0.0)) ++
        p.ctrlPre.map(c => s"eff_wall_control_pre_pair$n" -> c) ++
        p.ctrlPost.map(c => s"eff_wall_control_post_pair$n" -> c) ++
        p.ctrl.map(c => s"eff_wall_control_pair$n" -> c) ++
        // the equalization term itself as data (ADVICE r4): the small
        // side's UNspun clock reading next to its spun one — their ratio
        // to the large side is the turbo differential the spinner removed
        (if (p.lo.aluUnspun > 0) Seq(
          s"alu_unspun_pair${n}@1" -> p.lo.aluUnspun,
          s"clock_unequalized_pair$n" ->
            (if (p.hi.aluMops > 0) p.lo.aluUnspun / p.hi.aluMops else 0.0))
        else Nil)
    }.toMap
    // clean-limit estimator: ratio of the GLOBAL minima across all pair
    // sides — on a bursty host the min over all windows converges to the
    // undisturbed time (bursts only add); emitted as evidence next to the
    // headline median, never in its place
    val minWindow = if (pairs.isEmpty) 0.0 else
      (pairs.map(_.lo.minSec).min / pairs.map(_.hi.minSec).min) / 4.0
    val ctrlEffs = pairs.flatMap(_.ctrl)
    val ctrlKeys =
      (if (ctrlEffs.nonEmpty)
        Map("scaling_efficiency_compute_control" -> med(ctrlEffs))
      else Map.empty[String, Double]) ++ Map(
        // the full qualification policy as data: thresholds + outcome
        "qual_ctrl_min" -> ctrlMin,
        "qual_clock_lo" -> clockQLo, "qual_clock_hi" -> clockQHi,
        "qual_membw_lo" -> membwQLo, "qual_membw_hi" -> membwQHi,
        "qual_floor_tol" -> floorTol,
        "clock_equalized" -> (if (equalizeClock) 1.0 else 0.0),
        "qualified_pairs" -> qualifiedPairs.size.toDouble,
        "attempted_pairs" -> pairs.size.toDouble,
        "pair_samples" -> pairSamples.toDouble,
        // crash-safety bookkeeping: attempts that failed even after the
        // rebuild-and-retry, plus any cross-level result-count mismatch
        "aborted_pairs" -> abortedPairs.toDouble,
        "aborted_hi_levels" -> abortedHiLevels.toDouble,
        // pairs cut short by the burst-abort guard (threshold = the emitted
        // burst_abort_x multiple of the run's own per-side floor; active
        // only once the minimum fallback pairs exist)
        "burst_aborts" -> burstAborts.toDouble,
        "burst_abort_x" -> abortX,
        "triples_mismatch" -> triplesMismatch.toDouble,
        "scaling_efficiency_all_pairs" ->
          (if (pairs.isEmpty) 0.0 else med(pairs.map(_.wall)))) ++
        // every gated-out probe on the record: a pre-bracket control that
        // read below qual_ctrl_min, so the 13-min dataflow pair was skipped
        Map("probe_skips" -> skippedProbes.size.toDouble) ++
        skippedProbes.zipWithIndex.map { case (v, i) =>
          s"probe_skip_${i + 1}" -> v
        }.toMap
    // The PLAIN scaling_efficiency key is the measured WALL ratio (ADVICE
    // r2: a consumer reading the key alone must see the measured number);
    // the clock-probe-normalized value is emitted under an explicit name.
    // With the cross-run ledger it is the median over the UNION of
    // qualified pairs (in-run + protocol-identical history); the in-run
    // value stays on the record as scaling_efficiency_in_run and every
    // merged history pair is emitted individually.
    val effHeadline = if (unionWalls.nonEmpty) med(unionWalls) else effLowWall
    val ledgerKeys = Map(
      "ledger_pairs_loaded" -> ledgerLoaded.size.toDouble,
      "ledger_pairs_qualified" -> ledgerQual.size.toDouble,
      "qualified_pairs_union" -> unionWalls.size.toDouble,
      "scaling_efficiency_in_run" -> effLowWall,
      "headline_from_ledger" ->
        (if (ledgerQual.nonEmpty && unionWalls.nonEmpty) 1.0 else 0.0)) ++
      (if (ledgerQual.nonEmpty)
        Map("ledger_span_hours" ->
          ((System.currentTimeMillis() - ledgerQual.map(_.ts).min) / 3.6e6))
      else Map.empty[String, Double]) ++
      ledgerQual.take(16).zipWithIndex.flatMap { case (p, i) =>
        val k = i + 1
        Seq(s"ledger_qpair${k}_wall" -> p.wall,
          s"ledger_qpair${k}_clock" -> p.clock,
          s"ledger_qpair${k}_membw" -> p.membw) ++
          p.ctrl.map(c => s"ledger_qpair${k}_control" -> c)
      }.toMap
    val qs = (perLevel ++ pairKeys ++ ctrlKeys ++ ledgerKeys ++ Map(
      "scaling_efficiency" -> effHeadline,
      "scaling_efficiency_min_window" -> minWindow,
      "scaling_efficiency_cycle_norm" -> effLow,
      "clock_ratio_1_4" -> clockLow,
      // per-thread memory-bandwidth ratio 1→4 (median of in-window pairs):
      // hardware evidence, not a correction — one socket, one L3/memory
      // controller is the resource a real N→4N cluster multiplies
      "membw_ratio_1_4" ->
        (if (headlinePairs.isEmpty) 0.0 else med(headlinePairs.map(_.membw))),
      "canonical_triples" -> n.toDouble,
      "runs_per_level" -> runsPerLevel.toDouble) ++
      effHighWall.map(e => "scaling_efficiency_hi" -> e).toMap ++
      effHigh.map(e => "scaling_efficiency_hi_cycle_norm" -> e).toMap)
      .map { case (k, v) => "\"" + k + "\":" + d4(v) }
      .mkString("{", ",", "}")
    val modeDesc =
      if (mode == "cluster") "standalone multi-executor cluster (single-core worker JVMs)"
      else "core-pinned local[N] child JVMs (+1 driver core)"
    val pairDesc =
      (if (cpus >= 8) s"1 vs 4 cores (headline) and ${cpus / 4} vs $cpus (scaling_efficiency_hi; one shared memory bus/LLC)"
       else "1 vs 4 cores") +
        s"; headline = median of the QUALIFIED interleaved 1-core/4-core pairs (${qualifiedPairs.size} of ${pairs.size} attempted; pairs are collected until $qualK qualify or the budget runs out) where a pair qualifies mechanically iff its in-window pure-compute control (min of a PRE and a POST bracket) >= $ctrlMin AND clock-probe ratio in [$clockQLo,$clockQHi] AND membw-probe ratio in [$membwQLo,$membwQHi] AND both side minima within ${floorTol}x of the run's own per-side floors; every attempted pair + every qualification input emitted (eff_wall_pair*/clock_pair*/membw_pair*/eff_wall_control_{pre,post}_pair*/qual_pair*), median over ALL pairs emitted as scaling_efficiency_all_pairs; dirty windows are PRE-GATED (${skippedProbes.size} probe(s) skipped this run, each emitted as probe_skip_*): when the pre control bracket already reads < $ctrlMin the pair cannot qualify, so the budget is spent waiting for a clean window instead of measuring co-tenant noise, with a budget reserve forcing ungated fallback pairs if none appears" +
        (if (qualifiedPairs.isEmpty && unionWalls.isEmpty) "; NO pair qualified this run or in the ledger - scaling_efficiency falls back to the all-pairs median" else "") +
        (if (ledgerQual.nonEmpty) s"; CROSS-RUN PAIR LEDGER: ${ledgerQual.size} protocol-identical pair(s) from earlier record runs on this exact input+code (matched mechanically on measured-path version, exact canonical-triple count, equalization flag, per-side sample count and cpu budget; each re-qualified under THIS run's thresholds against its OWN run's floors - absolute floors are only comparable within one run, a uniformly slow window still yields an unbiased wall RATIO) merged into the qualified set, so the headline is the median over the union of ${unionWalls.size} qualified pair(s) accumulated across windows (VERDICT r4 item 2); the in-run-only reading stays on the record as scaling_efficiency_in_run and every merged pair is emitted as ledger_qpair*_wall/clock/membw/control" else "") +
        (if (burstAborts > 0) s"; $burstAborts pair(s) burst-ABORTED mid-measurement (1-core side exceeded ${abortX}x the run's own floor - a window floor-tol would disqualify; sampling stopped early to save budget, emitted as burst_aborts)" else "") +
        (if (equalizeClock) {
          // THIS run's own probe readings, not historical constants (ADVICE
          // r4): per-level spun ALU medians plus the unequalized small-side
          // reading, so the removed turbo term is quantified in-artifact
          val ladder = results.sortBy(_.cpus)
            .map(r => f"${r.aluMops}%.0f@${r.cpus}").mkString(", ")
          val unspun1 = headlinePairs.map(_.lo.aluUnspun).filter(_ > 0)
          val unspunTxt = if (unspun1.isEmpty) ""
            else f" vs ${med(unspun1)}%.0f unequalized at 1 active core (median; per-pair values emitted as alu_unspun_pair*@1 / clock_unequalized_pair*)"
          s"; CLOCKS EQUALIZED BY ACTIVITY MATCHING (clock_equalized=1; cross-run comparisons must key on this flag — equalization lifts the small-side times ~5% vs pre-round-4 records under the same key names): the package clock falls with active-core count on this host (THIS run's in-run ALU probes, Mops/thread under matched activity: $ladder$unspunTxt), so during each pair's SMALL side (and its probes and control brackets) a register-only ALU spinner — no L3/memory traffic; the no-SMT-sibling assumption is asserted against the kernel topology at startup — pins exactly the cores the LARGE side would additionally use, making both sides run at the same activity level and clock, as identical-clock N->4N cluster executors do; the small side's residual turbo advantage is removed from the wall ratio rather than normalized away, and the per-side ALU probes verify the matched clocks on the record"
        } else "")
    finalEmitted = true
    val finalJson =
      s"""{"metric":"end-to-end triples/sec (extract->link->canonicalize->materialize), $modeDesc, median-of-$runsPerLevel per level, scaling $pairDesc; scaling_efficiency is the MEASURED WALL ratio; the in-run per-core ALU clock probe's normalized value (clock ratio ${f"$clockLow%.2f"}x this run; a real N->4N cluster adds machines at identical clocks) is emitted separately as scaling_efficiency_cycle_norm; in-run probes emitted per level (alu=clock, mem=streaming bandwidth) plus an IN-WINDOW pure-compute Spark control pair (codegen range->xxhash64->bit_xor, same pinning; emitted as scaling_efficiency_compute_control / eff_wall_control_pair*) show where the single shared L3/memory system caps string-dataflow wall scaling on this one-socket box (BASELINE.md has the full measured diagnosis; the capped resource is per-node on a real cluster)","value":${f"$tpsTop%.2f"},"unit":"triples/sec","queries":$qs,"sf":"$sfDir"}"""
    writeArtifactFile(finalJson)
    println(finalJson)
  }
}

/** Child driver: connects to the standalone cluster, warms codegen on the
  * small same-shape input, waits for full executor registration, then runs
  * `runs` measured full-pipeline runs — each in a fresh SparkSession (fresh
  * executors, like a fresh spark-submit) with executor spin-up completed
  * BEFORE the clock starts. Prints `RUN <triples> <total> <build> <pipe>
  * <mat>` per measured run.
  */
object BenchChild {

  private def awaitExecutors(spark: SparkSession, n: Int): Unit = {
    val sc = spark.sparkContext
    if (!sc.master.startsWith("local")) {
      val deadline = System.nanoTime() + 120e9.toLong
      // statusTracker counts the driver too — use executorInfos - 1
      while (sc.statusTracker.getExecutorInfos.length - 1 < n &&
          System.nanoTime() < deadline) Thread.sleep(200)
    }
    // force the task path once so the first timed job schedules hot
    spark.range(1000L * n).repartition(n).count()
  }

  private def run(spark: SparkSession, inputDir: String): (Long, Double, Double, Double) = {
    val wh = s"${Bench.ShmRoot}/wh-${System.nanoTime()}/w"
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) taskMs.addAndGet(t.taskMetrics.executorRunTime)
    })
    // SPARK_GRAFT_JOBLOG=1: per-job wall vs task time on stderr — the jobs
    // where wall >> taskTime/cores are the serial/underparallelized culprits.
    // Task INTERVALS are also collected so the run can report true driver-
    // serial time as wall minus the union of task-busy intervals (per-job
    // walls overlap under AQE's concurrent stage futures and cannot be
    // summed).
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null)
            intervals.add((t.taskInfo.launchTime, t.taskInfo.finishTime))
      })
      val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val jobTask = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
      val jobGc = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
      val jobName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStart.put(j.jobId, System.nanoTime())
          jobTask.put(j.jobId, new java.util.concurrent.atomic.AtomicLong)
          jobGc.put(j.jobId, new java.util.concurrent.atomic.AtomicLong)
          // result-stage name = the action's call site (e.g. "parquet at
          // Materialize.scala:249") — identifies the job in the log
          jobName.put(j.jobId, j.stageInfos.lastOption
            .map(_.name.takeWhile(_ != '\n').take(70)).getOrElse("?"))
          j.stageIds.foreach(s => stageJob.put(s, j.jobId))
        }
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val jid = stageJob.get(t.stageId)
          val acc = jobTask.get(jid)
          if (acc != null && t.taskMetrics != null) {
            acc.addAndGet(t.taskMetrics.executorRunTime)
            jobGc.get(jid).addAndGet(t.taskMetrics.jvmGCTime)
          }
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobStart.getOrDefault(j.jobId, 0L)
          val tt = Option(jobTask.get(j.jobId)).map(_.get).getOrElse(0L)
          val gc = Option(jobGc.get(j.jobId)).map(_.get).getOrElse(0L)
          System.err.println(f"JOB ${j.jobId}%3d wall ${(System.nanoTime() - t0) / 1e9}%7.3f task ${tt / 1000.0}%7.2f gc ${gc / 1000.0}%6.2f  ${jobName.getOrDefault(j.jobId, "?")}")
        }
      })
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val tStart = System.nanoTime()
    val (stages, tBuild) =
      timed(graft.pipeline.Pipeline.build(spark, spark.read.parquet(inputDir),
        linkStagingDir = sys.env.get("SPARK_GRAFT_LINK_STAGING")
          .filter(_ == "1").map(_ => s"${Bench.ShmRoot}/stage-${System.nanoTime()}")))
    // FUSED one-pass graph write: the compact triple plan executes exactly
    // once, dedup rides the write-aligned exchange (the run's ONLY
    // corpus-sized shuffle — key strings are never shuffled), and the node
    // table derives from the compact checkpoint blocks instead of
    // re-decoding the written edge parquet. 64 buckets (identical at every
    // level): enough single-bucket write tasks to feed 32 cores while
    // total file count stays fixed per level — file count must NOT scale
    // with cores (see Materialize.alignedForWrite)
    val (n, tWrite) = timed(graft.materialize.Materialize.writeGraphFused(
      spark, wh, stages.canonicalCompact,
      nBuckets = sys.env.getOrElse("SPARK_GRAFT_NBUCKETS", "64").toInt))
    val total = (System.nanoTime() - tStart) / 1e9
    System.err.println(f"TASKTIME ${taskMs.get / 1000.0}%.2f wall $total%.2f")
    if (!intervals.isEmpty) {
      // union of task-busy intervals → GAP = wall with zero tasks running
      // (the honest driver-serial number; overlapped AQE job walls are not)
      import scala.jdk.CollectionConverters._
      val sorted = intervals.asScala.toSeq.sortBy(_._1)
      var covered = 0L; var curS = sorted.head._1; var curE = sorted.head._2
      sorted.tail.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      covered += curE - curS
      System.err.println(
        f"TASKGAP ${total - covered / 1000.0}%.2f covered ${covered / 1000.0}%.2f wall $total%.2f")
    }
    (n, total, tBuild, tWrite)
  }

  def main(args: Array[String]): Unit = {
    val (masterUrl, nS, inputDir, warmDir, runsS) =
      (args(0), args(1), args(2), args(3), args(4))
    val n = nS.toInt
    val runs = runsS.toInt
    // burst-abort threshold from the parent (0/absent = off): a measured
    // run slower than this is inside a co-tenant burst the parent's
    // qualification would reject — stop sampling, print ABORTSLOW, let the
    // parent skip the rest of the pair (see Bench.abortThreshold)
    val abortSec = args.lift(5).map(_.toDouble).getOrElse(0.0)
    def freshSession(): SparkSession = {
      // a stopped default session otherwise poisons the next getOrCreate
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      Bench.session(masterUrl, n)
    }
    // codegen/JIT warm-up: a discarded run on the small same-plan-shape
    // table (identical generated code; C2 thresholds hit within one pass)
    locally {
      val w = freshSession()
      try { awaitExecutors(w, n); run(w, warmDir) } finally w.stop()
    }
    var aborted = false
    (1 to runs).foreach { _ =>
      if (!aborted) {
        // settle the heap: the previous session's garbage otherwise lands as
        // GC pauses inside the measured run
        System.gc(); Thread.sleep(1500); System.gc()
        val s = freshSession()
        try {
          awaitExecutors(s, n)
          val (cnt, total, b, wr) = run(s, inputDir)
          println(f"RUN $cnt $total%.4f $b%.4f $wr%.4f")
          if (abortSec > 0 && total > abortSec) {
            println(f"ABORTSLOW $total%.4f > $abortSec%.4f")
            aborted = true
          }
        } finally s.stop()
      }
    }
  }
}

/** Pure-compute Spark control job (see Bench.runControl): the SAME engine,
  * session config and pinning as the dataflow child at the same level, but a
  * workload with no strings, no parquet and no shuffle payload — a codegen'd
  * whole-stage `range → xxhash64 → bit_xor` aggregate whose working set is a
  * few registers per row. On hardware that scales, this pairs at ~0.9+;
  * emitted per pair so the dataflow's gap to it is measured inside the same
  * host-noise window. Prints `CTRL <n> <sec>` per measured run (after a
  * same-shape codegen warm-up), parent takes the min.
  */
object ComputeControl {
  def main(args: Array[String]): Unit = {
    val n = args(0).toInt
    val runs = args(1).toInt
    // sized so the 4-core side (~4-5 s) still dwarfs per-job scheduling
    // overhead (~0.1 s) — a too-short control would understate its own ratio
    val rows = sys.env.getOrElse("SPARK_GRAFT_CTRL_ROWS", "8000000000").toLong
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", (4 * n).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${Bench.ShmRoot}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    def job(total: Long): Long =
      spark.range(0L, total, 1L, 4 * n)
        .select(xxhash64(col("id")).as("h"))
        .agg(bit_xor(col("h"))).head().getLong(0)
    job(rows / 64) // codegen + JIT warm (same generated source)
    (1 to runs).foreach { _ =>
      val t0 = System.nanoTime()
      job(rows)
      println(f"CTRL $n ${(System.nanoTime() - t0) / 1e9}%.4f")
    }
    spark.stop()
  }
}

/** Standalone CPU clock probe, run by Bench in its own child JVM pinned (via
  * `taskset`) to exactly the cores whose clock rate is being measured: n
  * concurrent ILP-saturating ALU chains (4-way-unrolled LCG — wide-IPC like
  * codegen'd Spark loops), median of 3 reps, per-thread M ops/s on stdout as
  * `ALU <n> <mops>`. On this host a single active core turbo-boosts ~1.2×
  * over all-core clocks (DVFS); the probe carries that hardware evidence
  * into the emitted bench JSON so clock scaling is separated from dataflow
  * scaling (a real cluster adds machines at identical clocks). A dedicated
  * pinned JVM — not the Spark driver — because in cluster mode the driver
  * owns 2 cores of its own: an n-thread probe there would measure thread
  * oversubscription, not worker-core clocks.
  */
object AluProbe {

  private[graft] def chain(seed: Long, iters: Int): Long = {
    var a = seed; var b = seed + 1; var c = seed + 2; var d = seed + 3
    var i = 0
    while (i < iters) {
      a = a * 6364136223846793005L + 1442695040888963407L
      b = b * 6364136223846793005L + 1442695040888963407L
      c = c * 6364136223846793005L + 1442695040888963407L
      d = d * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    a ^ b ^ c ^ d
  }

  def measure(threads: Int): Double = {
    val iters = 300000000
    chain(1, iters / 4) // JIT warm
    val reps = (1 to 3).map { _ =>
      val sink = new Array[Long](threads)
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => sink(t) = chain(t + 1, iters))
        th.start(); th
      }
      ts.foreach(_.join())
      iters / ((System.nanoTime() - t0) / 1e9) / 1e6
    }.sorted
    reps(1)
  }

  /** Per-thread MEMORY-bandwidth probe: each thread streams over its own
    * 256 MiB long array (far beyond LLC), summing — reports M longs/s per
    * thread, median of 3. Where the ALU probe isolates clock scaling, this
    * isolates the shared memory system: on a one-socket box the per-thread
    * number FALLS as threads rise (one L3, one memory controller), while a
    * real cluster's N→4N executors each bring their own. Emitted next to
    * the ALU readings so the bench JSON carries the hardware evidence for
    * why string/parquet dataflow cannot wall-scale past the memory system.
    */
  private def memChain(a: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i); i += 1 }
    s
  }

  def measureMem(threads: Int): Double = {
    val words = 32 * 1024 * 1024 // 256 MiB per thread
    val arrays = Array.fill(threads)(Array.tabulate(words)(_.toLong))
    memChain(arrays(0)) // JIT warm
    val passes = 4
    val reps = (1 to 3).map { _ =>
      val sink = new Array[Long](threads)
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var p = 0; var s = 0L
          while (p < passes) { s += memChain(arrays(t)); p += 1 }
          sink(t) = s
        })
        th.start(); th
      }
      ts.foreach(_.join())
      words.toDouble * passes / ((System.nanoTime() - t0) / 1e9) / 1e6
    }.sorted
    reps(1)
  }

  def main(args: Array[String]): Unit = {
    val n = args(0).toInt
    println(f"ALU $n ${measure(n)}%.2f")
    // "alu" second arg: clock reading only (the unequalized-term probe
    // Bench runs next to each spun sample) — skip the memory pass
    if (!args.lift(1).contains("alu"))
      println(f"MEM $n ${measureMem(n)}%.2f")
  }
}

/** Standalone input prep for A/B profiling: materializes the same replicated
  * bench input `graft.Bench` prepares (untimed), WITHOUT running the bench —
  * so pinned `BenchChild` variants can be launched directly against one
  * shared input. Usage: BenchPrep [sfDir] [repl].
  */
object BenchPrep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val repl = args.lift(1).map(_.toInt)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_BENCH_REPL", "96").toInt)
    val (dir, warm) = Bench.prepareInput(sfDir, repl)
    println(s"PREP $dir $warm")
  }
}

/** Register-only ALU spinner, run by Bench pinned (via `taskset`) to the
  * cores a scaling pair's LARGE side would additionally use, for the
  * duration of the SMALL side's measurement: both sides then run at the
  * same active-core count and hence the same package clock, like the
  * identical-clock executors of a real N→4N cluster (the package clock
  * falls with active cores on this host — ALU probes read 696 Mops/thread
  * at 1 active core vs 661 at 5). The loop is AluProbe's 4-way LCG chain —
  * pure registers, no allocation, no L3/memory traffic — so the spinner
  * cannot contend with the measured cores for anything except the package
  * power/clock budget, which is exactly the term being equalized. Runs
  * until killed by the parent — or until its stdin pipe reaches EOF, which
  * is parent-death detection: a hard-killed bench (kill -9, OOM-kill)
  * never reaches destroyForcibly, and an orphaned spinner would burn the
  * large side's cores at 100% and contaminate every subsequent run.
  */
object Spinner {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1)
    val parentWatch = new Thread(() => {
      try { while (System.in.read() != -1) () }
      catch { case _: Throwable => () }
      Runtime.getRuntime.halt(0) // parent gone: stop burning its cores
    })
    parentWatch.setDaemon(true)
    parentWatch.start()
    val ts = (0 until n).map { t =>
      val th = new Thread(() => {
        var sink = 0L
        while (true) {
          sink ^= AluProbe.chain(t + 1, 1 << 22)
          // impossible in practice; defeats dead-code elimination
          if (sink == 0x5851F42D4C957F2DL) System.out.print("")
        }
      })
      th.setDaemon(false); th.start(); th
    }
    ts.head.join()
  }
}
