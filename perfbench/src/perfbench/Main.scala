package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one client thread.
  *
  * {{{
  *   perfbench.Main --workload cdc_backfill --seed 1 --seconds 12 --trace 0 \
  *     --work <scratch dir> [--size full|tiny] [--fault 0|1] [--spans <file>]
  * }}}
  *
  * Order of a run: set-up `SetupReps` times (each into a fresh directory;
  * the last one is used), warm-up operations, then timed operations until
  * both `--seconds` of operation time and the workload's minimum operation
  * count are reached. Output checks run between operations, outside the
  * timed spans. The last stdout line is the JSON result; the exit code is
  * 0 only when every operation passed its check.
  */
object Main {

  /** Timed operations a run makes at least: enough samples for a median
    * that repeats, and the point at which `disk_mb` is read.
    */
  private val MinOps = Map("cdc_backfill" -> 3, "cdc_trickle" -> 10, "pipeline_ingest" -> 3)
  private val SetupReps = 3
  /** Spark runs `local[MaxCores]` (fewer on a smaller host). The workloads
    * keep well under two cores busy on average, so a larger pool adds
    * tasks, not speed, and leaves the run exposed to every other tenant of
    * the host; the cores left over take the JVM's GC and compiler threads.
    */
  private val MaxCores = 2

  val EndToEnd = Seq("setup_s", "ok_ratio", "throughput_per_s", "latency_p50_s", "retained_mb", "disk_mb")
  val PerLayer = Seq(
    "capture.wall_s", "capture.events", "capture.jobs",
    "log.append_s", "log.files_written", "log.files_total", "log.mb_written",
    "poll.latest_offset_ms", "poll.plan_ms", "poll.files_planned", "poll.rows_read",
    "poll.read_task_s", "poll.rows_per_task_s",
    "view.rows_out", "view.selectivity",
    "sink.add_batch_ms", "sink.files_written", "sink.mb_written",
    "stream.triggers", "stream.trigger_ms", "stream.wal_commit_ms", "stream.wait_ms",
    "stream.jobs_per_trigger",
    "consume.wall_s", "consume.rows", "apply.wall_s", "apply.rows_out",
    "pipeline.trigger_s", "pipeline.jobs_per_trigger", "pipeline.stages_per_trigger",
    "pipeline.task_s_per_trigger", "pipeline.core_busy_ratio", "pipeline.shuffle_mb",
    "pipeline.spill_mb", "pipeline.admitted_ratio",
    "pipeline.store_mb.counts", "pipeline.store_mb.gram", "pipeline.store_mb.win", "pipeline.store_mb.ham",
    "jvm.gc_s", "jvm.heap_peak_mb", "spark.jobs_per_op", "spark.core_busy_ratio")
  val Units: Map[String, String] = (PerLayer ++ EndToEnd).map { n =>
    n -> (n match {
      case "ok_ratio" => "ratio"
      case "throughput_per_s" => "1/s"
      case "poll.rows_per_task_s" => "rows/s"
      case x if x.endsWith("_ms") => "ms"
      case x if x.endsWith("_s") || x == "pipeline.task_s_per_trigger" => "s"
      case x if x.endsWith("_mb") || x.contains("_mb.") || x.endsWith("mb_written") => "MB"
      case x if x.endsWith("ratio") || x.endsWith("selectivity") => "ratio"
      case _ => "count"
    })
  }.toMap

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tiny = a.get("size").contains("tiny")
    val fault = a.get("fault").contains("1")
    val work = a("work")
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val rec = new Recorder(spark.sparkContext, traced)
    val layers = if (traced) Some(new LayerListener(rec)) else None
    layers.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, rec, layers, seed, if (tiny) Sizes.tiny else Sizes.full, fault, cores)
    val wl: Workload = name match {
      case "cdc_backfill"    => new Backfill(ctx)
      case "cdc_trickle"     => new Trickle(ctx)
      case "pipeline_ingest" => new Pipeline(ctx)
      case other             => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val minOps = if (tiny) 2 else MinOps(name)
    val code =
      try run(wl, name, seconds, minOps, if (tiny) 1 else SetupReps, work, a.get("spans"))
      finally {
        try wl.teardown() catch { case _: Throwable => () }
        spark.stop()
      }
    sys.exit(code)
  }

  private def run(wl: Workload, name: String, seconds: Double, minOps: Int, reps: Int,
      work: String, spansPath: Option[String]): Int = {
    val ctx = wl.ctx
    val rec = ctx.rec
    val calBefore = Util.calibrationMs()
    // a set-up that throws fails the run like a failed warm-up operation
    var setupFailed = false
    val setupS = (1 to reps).flatMap { r =>
      if (setupFailed) None
      else {
        wl.teardown()
        Util.deleteRecursively(new File(s"$work/setup-${r - 1}"))
        val t0 = System.nanoTime()
        try { wl.setup(s"$work/setup-$r"); Some(Util.seconds(System.nanoTime() - t0)) }
        catch { case e: Throwable => setupFailed = true; report(-1, e); None }
      }
    }
    val timings = mutable.LinkedHashMap.empty[Int, OpTiming]
    val failedOps = mutable.Set.empty[Int]
    var broken = setupFailed
    def attempt(i: Int): Unit = {
      rec.currentOp = i
      try timings(i) = wl.op(i)
      catch { case e: Throwable => broken = true; failedOps += i; report(i, e) }
      rec.currentOp = -2 // checks are not part of any operation
      if (!broken)
        try { if (!wl.verify(i)) failedOps += i }
        catch { case e: Throwable => broken = true; failedOps += i; report(i, e) }
    }
    var i = 0
    val warmStart = System.nanoTime()
    while (i < wl.warmupOps && !broken) { attempt(i); i += 1 }
    val warmS = Util.seconds(System.nanoTime() - warmStart)
    val timedStart = System.nanoTime()
    var warmFailed = setupFailed || failedOps.nonEmpty
    val first = i
    Util.resetHeapPeaks()
    val gc0 = Util.gcMillis()
    val (steal0, cpu0) = Util.cpuTicks()
    var timedNs = 0L
    var disk = -1L
    var retained = -1L
    while (!warmFailed && !broken && i < wl.maxOps &&
      (i - first < minOps || Util.seconds(timedNs) < seconds)) {
      attempt(i)
      timings.get(i).foreach(t => timedNs += t.wallNs)
      if (i - first + 1 == minOps) { disk = wl.diskBytes(); retained = Util.retainedBytes() }
      i += 1
    }
    val gcS = (Util.gcMillis() - gc0) / 1000.0
    val heapPeak = Util.heapPeakBytes()
    val (steal1, cpu1) = Util.cpuTicks()
    val calAfter = Util.calibrationMs()
    val timed = (first until i).toIndexedSeq
    if (!broken)
      try {
        val bad = wl.verifyEnd()
        failedOps ++= bad
        // a wrong result owned by set-up or a warm-up operation fails the run
        if (bad.exists(j => !timed.contains(j))) warmFailed = true
      } catch { case e: Throwable => failedOps ++= timed; report(-1, e) }
    if (disk < 0) disk = wl.diskBytes()
    if (retained < 0) retained = Util.retainedBytes()
    val attempted = if (warmFailed) 1 else timed.size
    val failed = if (warmFailed) 1 else timed.count(failedOps)
    val ok = timed.filterNot(failedOps).filter(timings.contains)
    val wallS = ok.map(j => Util.seconds(timings(j).wallNs))
    val lat = ok.map(j => Util.seconds(timings(j).latencyNs))
    val e2e = Map(
      "setup_s" -> Util.median(setupS),
      "ok_ratio" -> (attempted - failed).toDouble / attempted,
      "throughput_per_s" -> (if (wallS.isEmpty) 0.0 else ok.map(wl.items.getOrElse(_, 0L)).sum / wallS.sum),
      "latency_p50_s" -> Util.median(lat),
      "retained_mb" -> Util.mb(retained),
      "disk_mb" -> Util.mb(disk))
    println(f"perfbench $name: ${timed.size} timed ops in ${Util.seconds(timedNs)}%.3f s, $failed failed; " +
      f"set-ups ${setupS.map(s => f"$s%.3f").mkString(" ")} s; warm-up $warmS%.3f s; timed part with checks " +
      f"${Util.seconds(System.nanoTime() - timedStart)}%.3f s")
    println(s"op latencies (s): ${lat.map(x => f"$x%.3f").mkString(" ")}")
    println(f"host: calibration_ms before=$calBefore%.1f after=$calAfter%.1f; " +
      f"steal ${100.0 * (steal1 - steal0) / math.max(1L, cpu1 - cpu0)}%.1f %% of CPU time over the timed part")
    println("end_to_end: " + EndToEnd.map(n => s"$n=${Util.json(e2e(n))}").mkString(" "))
    println(Util.tailPercentile(lat.size) match {
      case Some(p) => s"latency_tail_s: p$p = ${Util.json(Util.quantile(lat, p / 100.0))} s over ${lat.size} samples"
      case None    => s"latency_tail_s: omitted, ${lat.size} samples (< 20)"
    })
    val metrics =
      if (!rec.traced) e2e
      else perLayer(wl, ok, wallS.sum, gcS, heapPeak)
    spansPath.foreach(p => writeSpans(rec, p))
    val names = if (rec.traced) PerLayer else EndToEnd
    val body = names.map(n => s"${Util.jsonStr(n)}: {\"value\": ${Util.json(metrics.getOrElse(n, 0.0))}, " +
      s"\"unit\": ${Util.jsonStr(Units(n))}}").mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (failed == 0) 0 else 1
  }

  private def report(i: Int, e: Throwable): Unit = {
    System.out.println(s"operation $i failed: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    e.printStackTrace()
  }

  /** Per-layer figures: the median over successful timed operations of each
    * per-operation figure, span-derived layer walls, end-of-run sizes and
    * the JVM and Spark totals of the timed part.
    */
  private def perLayer(wl: Workload, ok: Seq[Int], wallS: Double, gcS: Double, heapPeak: Long): Map[String, Double] = {
    val okSet = ok.toSet
    wl.ctx.layers.foreach { l =>
      org.apache.spark.ListenerBusDrain(wl.ctx.spark.sparkContext)
      ok.foreach(wl.sparkFigures(_, l))
    }
    val keys = ok.flatMap(j => wl.perOp.get(j).toSeq.flatMap(_.keys)).distinct
    val perOp = keys.map(k => k -> Util.median(ok.flatMap(j => wl.perOp.get(j).flatMap(_.get(k))))).toMap
    val spans = wl.ctx.rec.all.filter(s => okSet(s.op))
    def spanS(name: String): Double =
      Util.median(ok.map(j => spans.filter(s => s.op == j && s.name == name).map(s => s.endNs - s.startNs).sum / 1e9))
    val sparkTotals = wl.ctx.layers.map(l => ok.map(j => l.forOp(j))).getOrElse(Seq.empty)
    val jobs = sparkTotals.map(_.jobs.toDouble)
    val taskS = sparkTotals.map(_.taskMs).sum / 1000.0
    perOp ++ wl.endLayers() ++ Map(
      "capture.wall_s" -> spanS("capture"),
      "log.append_s" -> spanS("log"),
      "consume.wall_s" -> spanS("consume"),
      "apply.wall_s" -> spanS("apply"),
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> Util.mb(heapPeak),
      "spark.jobs_per_op" -> Util.median(jobs),
      "spark.core_busy_ratio" -> (if (wallS > 0) taskS / (wallS * wl.ctx.cores) else 0.0))
  }

  private def writeSpans(rec: Recorder, path: String): Unit = {
    val spans = rec.all
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val out = new PrintWriter(new File(path), "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Util.jsonStr(s.name)}, """ +
        s""""start_us": ${(s.startNs - t0) / 1000}, "end_us": ${(s.endNs - t0) / 1000}}""")
    }
    finally out.close()
  }
}
