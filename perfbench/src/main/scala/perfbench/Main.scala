package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  * A run sets up `Setups` times. Each set-up starts a fresh session on
  * its own link-copy of the inputs and runs the cold pass over the
  * workload's ops; the first also counts JVM start. Warm-up passes in
  * the last session follow until pass time stops falling; then at least
  * `MinTimed` whole passes, and at least `--seconds` of them, are timed.
  * With `--trace 1` a SparkListener and a QueryExecutionListener record
  * every job, stage, task and planning phase of the last session, and
  * each op's jobs are tagged through `sc.setLocalProperty`; spans and a
  * per-layer summary are written when the run ends. Everything lands in
  * `--out` as one JSON object.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out FILE [--cpus N]
  */
object Main {
  val Setups = 3
  /** Warm-up ends with the first warm pass that is no more than this
    * share faster than the warm pass before it. */
  val Settle = 0.05
  /** Warm-up stops after this many times `--seconds` even if pass time
    * is still falling (the result then records `settled: false`): the
    * run budget leaves `battery_table` two warm-up passes. */
  val WarmupCap = 1.5
  val MinTimed = 3

  final case class OpRec(id: Long, pass: Int, cold: Boolean, name: String,
                         commit: Boolean, startMs: Long, constructMs: Long,
                         endMs: Long, secs: Double, cpuMs: Double, rows: Long,
                         error: Option[String])

  final case class PassRec(index: Int, cold: Boolean, startMs: Long, endMs: Long,
                           secs: Double, cpuMs: Double, gcMs: Long, fs: FsStats,
                           table: (Long, Long))

  /** Hadoop FileSystem statistics: bytes read and written, read and
    * write operations. */
  final case class FsStats(bytesRead: Long, bytesWritten: Long, readOps: Long,
                           writeOps: Long) {
    def -(o: FsStats): FsStats = FsStats(bytesRead - o.bytesRead,
      bytesWritten - o.bytesWritten, readOps - o.readOps, writeOps - o.writeOps)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val conf = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse") ++ wl.conf

    // one per session: job and stage ids restart in every SparkContext
    var trace = new Trace
    val ops = ArrayBuffer[OpRec]()
    val passes = ArrayBuffer[PassRec]()
    val checkFailures = ArrayBuffer[(String, String)]()
    var nextId = 0L
    var passNo = 0

    def newSession(k: Int): Session = {
      val b = graft.SparkTune.tuned(SparkSession.builder()).appName(s"perfbench-${wl.name}")
      conf.foreach { case (key, v) => b.config(key, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      if (traced) {
        trace = new Trace
        spark.sparkContext.addSparkListener(trace)
        spark.listenerManager.register(trace)
      }
      Session(spark, linkInputs(a("inputs"), s"$work/in$k"), work, seed, k)
    }

    /** CPU time of the whole process (driver and local executors): time
      * the host steals from the VM does not count here, as it does in
      * wall time. */
    def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

    /** I/O through Hadoop FileSystems. Table metadata the chain storage
      * reads and writes with java.nio is not in these counts. */
    def fsStats(): FsStats = {
      val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      FsStats(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
        st.map(_.getReadOps.toLong).sum, st.map(_.getWriteOps.toLong).sum)
    }

    def runPass(s: Session, cold: Boolean): Unit = {
      val sc = s.spark.sparkContext
      val p = passNo
      passNo += 1
      val (g0, f0, c0) = (gcMs(), fsStats(), cpuMs())
      val t0 = System.nanoTime()
      val start = System.currentTimeMillis()
      var (hookNs, hookCpuMs) = (0L, 0.0)
      for (op <- wl.pass(s, p)) {
        val id = nextId
        nextId += 1
        sc.setLocalProperty(Trace.OpKey, id.toString)
        val opStart = System.currentTimeMillis()
        var constructMs = opStart
        val scope = new OpScope { def constructed(): Unit = constructMs = System.currentTimeMillis() }
        val (n0, opCpu0) = (System.nanoTime(), cpuMs())
        val (rows, err) =
          try (op.run(scope), None)
          catch { case e: Throwable => (0L, Some(e.toString.take(500))) }
        val secs = (System.nanoTime() - n0) / 1e9
        ops += OpRec(id, p, cold, op.name, op.commit, opStart, constructMs,
          System.currentTimeMillis(), secs, cpuMs() - opCpu0, rows, err)
        sc.setLocalProperty(Trace.OpKey, "-2")
        val (h0, hookCpu0) = (System.nanoTime(), cpuMs())
        if (err.isEmpty)
          try op.after()
          catch { case e: Throwable => checkFailures += (op.name -> s"check after the op: $e") }
        hookNs += System.nanoTime() - h0
        hookCpuMs += cpuMs() - hookCpu0
      }
      // the untimed hooks after ops are not pass time
      val secs = (System.nanoTime() - t0 - hookNs) / 1e9
      val cpu = cpuMs() - c0 - hookCpuMs
      val end = System.currentTimeMillis()
      note(f"pass $p%d ${if (cold) "cold" else "warm"} $secs%.2f s")
      val (g1, f1) = (gcMs(), fsStats())
      try wl.afterPass(s, p).foreach(m => checkFailures += (s"pass $p" -> m))
      catch { case e: Throwable => checkFailures += (s"pass $p" -> s"check failed: $e") }
      sc.setLocalProperty(Trace.OpKey, null)
      val table = wl.tableRoots(s).map(Stats.dirSize)
        .foldLeft((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
      passes += PassRec(p, cold, start, end, secs, cpu, g1 - g0, f1 - f0, table)
    }

    // ---- set-up, several times: fresh session + cold pass
    val setupSecs = ArrayBuffer[Double]()
    val setupCpuS = ArrayBuffer[Double]()
    var session: Session = null
    for (k <- 0 until Setups) {
      if (session != null) {
        if (traced) PerfbenchBus.drain(session.spark.sparkContext)
        session.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val c0 = if (k == 0) 0.0 else cpuMs()
      val sinceJvm = if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      session = newSession(k)
      wl.prepare(session)
      note(f"set-up $k%d prepared at ${(System.nanoTime() - t0) / 1e9}%.2f s")
      runPass(session, cold = true)
      setupSecs += sinceJvm + (System.nanoTime() - t0) / 1e9
      setupCpuS += (cpuMs() - c0) / 1e3
    }
    val s = session
    val firstPass = passNo - 1 // the last set-up's cold pass
    val coldHeapMb = heapAfterGc()

    // ---- warm-up: the JIT is still compiling and pass times fall. Warm
    // passes run for at least `seconds` and until one is no more than
    // Settle faster than the warm pass before it; WarmupCap ends them.
    val w0 = System.nanoTime()
    def warmupS = (System.nanoTime() - w0) / 1e9
    var warmupPasses = 0
    var settled = false
    while (!settled && warmupS < WarmupCap * seconds) {
      runPass(s, cold = false)
      warmupPasses += 1
      settled = warmupPasses >= 2 && warmupS >= seconds &&
        passes.last.secs >= passes(passes.size - 2).secs * (1 - Settle)
    }

    // ---- timed passes: at least MinTimed, at least `seconds`
    val timedFrom = passNo
    val t0 = System.nanoTime()
    while (passNo - timedFrom < MinTimed || (System.nanoTime() - t0) / 1e9 < seconds)
      runPass(s, cold = false)
    val timedSecs = (System.nanoTime() - t0) / 1e9

    // ---- untimed: per-layer probes, output checks, heap
    val probe = if (traced) wl.layerProbe(s) else Map.empty[String, Double]
    try checkFailures ++= wl.finalCheck(s)
    catch { case e: Throwable => checkFailures += ("final check" -> e.toString) }
    val heapMb = heapAfterGc()
    if (traced) PerfbenchBus.drain(s.spark.sparkContext)

    val timed = passes.filter(_.index >= timedFrom).toSeq
    val timedIdx = timed.map(_.index).toSet
    val (layerMetrics, layerSummary) =
      if (traced) Layers(trace, ops.filter(_.pass >= firstPass).toSeq,
        passes.filter(_.index >= firstPass).toSeq, timedIdx, cpus.toInt, coldHeapMb,
        heapMb, s"$work/spans.jsonl")
      else (Map.empty[String, Double], Map.empty[String, Any])
    val warm = ops.filter(o => timedIdx.contains(o.pass))
    val queries = warm.filter(o => !o.commit && o.error.isEmpty).map(_.secs)
    val commits = warm.filter(o => o.commit && o.error.isEmpty).map(_.secs)
    def tail(xs: Seq[Double]) = Stats.tail(xs).map { case (p, v) =>
      Map("percentile" -> p, "value" -> v, "n" -> xs.size) }
    val e2e = Map(
      "setup_s" -> Stats.median(setupSecs.toSeq),
      // ops of one pass over the median pass time: a burst of host load
      // that slows one pass does not move it
      "ops_per_s" -> warm.size.toDouble / timed.size / Stats.median(timed.map(_.secs)),
      "query_p50_s" -> Stats.median(queries.toSeq),
      "driver_heap_mb" -> heapMb,
      "cpu_ms_per_op" -> Stats.median(timed.map(p => p.cpuMs / warm.count(_.pass == p.index))),
      "setup_cpu_s" -> Stats.median(setupCpuS.toSeq)) ++
      (if (commits.nonEmpty) Map("commit_p50_s" -> Stats.median(commits.toSeq)) else Map())

    val result = Map(
      "workload" -> wl.name,
      "seed" -> seed,
      "trace" -> traced,
      "seconds" -> seconds,
      "config" -> (Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.files.maxPartitionBytes").map(k => k -> s.spark.conf.get(k)).toMap ++
        (wl.conf - "spark.sql.catalog.graft")),
      "setup_runs_s" -> setupSecs.toSeq,
      "warmup" -> Map("passes" -> warmupPasses, "settled" -> settled),
      "timed_s" -> timedSecs,
      "passes" -> passes.toSeq.map(p => Map("index" -> p.index, "cold" -> p.cold,
        "timed" -> timedIdx.contains(p.index), "secs" -> p.secs, "cpu_ms" -> p.cpuMs,
        "ops" -> ops.count(_.pass == p.index))),
      "setup_cpu_s" -> setupCpuS.toSeq,
      "end_to_end" -> e2e,
      "query_tail" -> tail(queries.toSeq),
      "commit_tail" -> tail(commits.toSeq),
      "ops" -> Map(
        "attempted" -> ops.size,
        "errors" -> ops.filter(_.error.nonEmpty).map(o => Map("op" -> o.name,
          "pass" -> o.pass, "error" -> o.error.get)).toSeq,
        "per_name" -> ops.groupBy(_.name).map { case (n, xs) => n -> xs.size }),
      "check_failures" -> checkFailures.toSeq.map { case (o, m) => Map("op" -> o, "message" -> m) },
      "op_secs" -> ops.toSeq.map(o => Seq(o.pass, o.name, o.secs, o.cpuMs)),
      "layers" -> (layerMetrics ++ probe),
      "layer_summary" -> layerSummary)
    Json.write(a("out"), result)
    s.spark.stop()
  }

  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[harness ${(System.nanoTime() - born) / 1e9}%7.2f] $msg")

  /** Heap in use once full GCs stop freeing memory. Spark's ContextCleaner
    * drops blocks of collected RDDs and broadcasts only after a GC has
    * found them, so one GC is not enough for a repeatable figure. */
  def heapAfterGc(): Double = {
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var last = Double.MaxValue
    var cur = used()
    var rounds = 0
    while (rounds < 3 || (rounds < 8 && last - cur > 1.0)) {
      last = cur
      System.gc()
      Thread.sleep(200)
      cur = used()
      rounds += 1
    }
    cur
  }

  /** Per-session copy of the input dir made of hard links: same bytes,
    * new paths, so nothing cached by path survives into the next set-up. */
  def linkInputs(from: String, to: String): String = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    Files.createDirectories(dst)
    val files = Files.list(src)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      try Files.createLink(dst.resolve(f.getFileName), f)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(f, dst.resolve(f.getFileName)) }
    } finally files.close()
    dst.toString
  }
}
