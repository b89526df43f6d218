package perfbench

import java.nio.file.{Files, Path}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one JVM, Spark `local[N]` (N = min(4, cpus)),
  * one client thread issuing graft calls in a closed loop (each call
  * starts after the previous one returned).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * The last stdout line is the JSON result. With `--trace 0` it carries
  * the end-to-end metrics; with `--trace 1` the run alternates untraced
  * and traced rounds, and it carries the per-layer metrics of the traced
  * rounds plus the tracing overhead against the untraced ones.
  */
object Main {

  val SetupSamples = 3

  /** One executed op: class, outcome, wall time and its phases. */
  private final case class Rec(index: Int, cls: String, round: Int, traced: Boolean, ok: Boolean,
      inputRows: Long,
      rowsOut: Long, startMs: Long, endMs: Long, latNs: Long, callNs: Long, actionNs: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    if (!Workload.names.contains(workload)) usage(s"unknown workload `$workload`")
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage("--seed must be an integer"))
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).filter(_ > 0)
      .getOrElse(usage("--seconds must be positive"))
    val trace = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case other => usage(s"--trace must be 0 or 1, got $other")
    }
    val work = Path.of(opts.getOrElse("workdir", ".bench_build/perfbench")).toAbsolutePath
    val runId = s"$workload-$seed-${java.util.UUID.randomUUID().toString.take(8)}"
    val runDir = work.resolve("runs").resolve(runId)
    Files.createDirectories(runDir)
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        println(run(spark, workload, seed, seconds, trace, runDir, work, runId))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally {
        spark.stop()
        deleteTree(runDir)
      }
    System.out.flush()
    // exit explicitly: a lingering non-daemon thread must not keep the JVM up
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${Workload.names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: Path, work: Path, runId: String): String = {
    val sc = spark.sparkContext
    val cpus = sc.defaultParallelism

    val tp = System.nanoTime()
    Workload.prepare(name, seed)
    System.err.println(f"perfbench: expectations ${(System.nanoTime() - tp) / 1e9}%.3f s")
    // set-up: several fresh instances, the median is reported
    var w: Workload = null
    val setupS = (1 to SetupSamples).map { _ =>
      if (w != null) w.close()
      val t0 = System.nanoTime()
      w = Workload.make(name, spark, seed, runDir)
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    w.expect()
    val tracer = new Tracer(runId)
    val listener = new LayerListener
    if (trace) {
      sc.addSparkListener(listener)
      (spark +: w.extraSessions).foreach(_.listenerManager.register(listener))
    }
    val recs = mutable.ArrayBuffer.empty[Rec]
    var opIndex = 0
    var round = 0

    def runOp(op: Op, traced: Boolean, timed: Boolean): Unit = {
      if (traced) w.beforeTraced(op, tracer)
      sc.setJobGroup(LayerListener.group(opIndex), op.cls, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val check =
        try tracer.span(op.cls, "harness") {
          val act = tracer.span(s"${op.cls}.call", op.layer)(op.call())
          t1 = System.nanoTime()
          tracer.span(s"${op.cls}.action", "execution")(act())
        } catch {
          case e: Exception => Check(0, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      val t2 = System.nanoTime()
      sc.clearJobGroup()
      if (!check.ok)
        System.err.println(s"perfbench: ${op.cls} output check FAILED: ${check.why.take(2000)}")
      if (timed)
        recs += Rec(opIndex, op.cls, round, traced, check.ok, op.inputRows, check.rowsOut, startMs,
          System.currentTimeMillis(), t2 - t0, t1 - t0, t2 - t1)
      if (traced) w.afterTraced(op, (t2 - t0) / 1e6)
      opIndex += 1
    }

    // warm-up: untimed rounds (JIT, codegen), counted into set-up; the
    // traced run warms up one round more so that its first untraced
    // cycle does not carry late compilation into the overhead figure
    val tw = System.nanoTime()
    for (_ <- 1 to w.warmupRounds + (if (trace) 1 else 0))
      w.round().foreach(runOp(_, traced = false, timed = false))
    val warmupS = (System.nanoTime() - tw) / 1e9

    // the timed loop: whole cycles of rounds until the clock has run out;
    // a traced run alternates untraced and traced cycles
    val roundWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cycle = if (trace) 2 * w.roundsPerCycle else w.roundsPerCycle
    while (round == 0 || round % cycle != 0 || System.nanoTime() < deadline) {
      val traced = trace && (round / w.roundsPerCycle) % 2 == 1
      tracer.on = traced
      val t0 = System.nanoTime()
      tracer.span(s"round-$round", "harness") {
        w.round().foreach(runOp(_, traced, timed = true))
      }
      roundWall += ((traced, (System.nanoTime() - t0) / 1e9))
      round += 1
    }
    tracer.on = false
    val recall = w.recall()
    val heapMb = HeapProbe.oldGenAfterGcMb()
    val layerExtra = if (trace) w.layerMetrics() else Map.empty[String, Double]
    w.close()

    val attempted = recs.length
    val failed = recs.count(!_.ok)
    val okRecs = recs.filter(_.ok)
    report(name, w.classes, okRecs.toSeq, setupS, warmupS, recall, attempted, failed)
    System.err.println("perfbench:   round walls " +
      roundWall.map { case (t, s) => f"$s%.2f${if (t) "T" else ""}" }.mkString(" ") + " s")
    // a rate per cycle of rounds, median over cycles: one cycle slowed by
    // a stall or late JIT does not move it
    def perCycle(work: Seq[Rec] => Double): Double = {
      val c = w.roundsPerCycle
      val rates = roundWall.indices.grouped(c).filter(_.length == c).map { rs =>
        work(okRecs.filter(r => rs.contains(r.round)).toSeq) / rs.map(roundWall(_)._2).sum
      }.toSeq
      if (rates.isEmpty) 0.0 else Stats.median(rates)
    }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Seq(
          ("setup_s", Stats.median(setupS) + warmupS, "s"),
          ("peak_heap_mb", heapMb, "MB"),
          ("ok_frac", (attempted - failed).toDouble / math.max(1, attempted), "fraction"),
          ("rows_per_s", perCycle(_.map(_.inputRows).sum), "rows/s"),
          ("ops_per_s", perCycle(_.length.toDouble), "1/s"),
          ("op_p50_ms", classGeomean(okRecs.toSeq, w.classes), "ms"),
          ("recall", recall, "fraction"))
      } else {
        org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
        val traced = recs.filter(_.traced).toIndexedSeq
        val counters = listener.attribute(traced.map(r => (r.index, r.startMs, r.endMs)))
        val spans = tracer.spans
        tracer.writeJsonl(work.resolve("spans").resolve(s"$runId.jsonl"))
        val untraced = recs.count(!_.traced)
        layerMetrics(traced, untraced, counters, spans, roundWall.toSeq, layerExtra, cpus)
      }
    json(failed == 0, attempted, failed, metrics)
  }

  /** Geometric mean over the workload's op classes of each class's
    * median latency, in ms. Every class runs once per round, so the mix
    * is the same in every run.
    */
  private def classGeomean(recs: Seq[Rec], classes: Seq[String]): Double = {
    val per = classes.flatMap { c =>
      val xs = recs.filter(_.cls == c).map(_.latNs / 1e6)
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    if (per.isEmpty) 0.0 else Stats.geomean(per)
  }

  /** Human-readable per-class and workload-specific figures (stderr). */
  private def report(name: String, classes: Seq[String], ok: Seq[Rec], setupS: Seq[Double],
      warmupS: Double, recall: Double, attempted: Int, failed: Int): Unit = {
    val err = System.err
    err.println(f"perfbench: $name set-up samples ${setupS.map(s => f"$s%.3f").mkString(", ")} s, " +
      f"warm-up $warmupS%.3f s, failed_frac ${failed.toDouble / math.max(1, attempted)}%.4f " +
      s"($failed of $attempted)")
    for (c <- classes) {
      val rs = ok.filter(_.cls == c)
      val xs = rs.map(_.latNs / 1e6)
      if (xs.nonEmpty) {
        val tail = Stats.tail(xs).map { case (p, v) => f"p$p%.1f $v%.2f ms" }.getOrElse("n<=10")
        err.println(f"perfbench:   $c%-18s n=${xs.length}%4d p50 ${Stats.median(xs)}%10.2f ms  " +
          f"rows_out ${Stats.median(rs.map(_.rowsOut.toDouble))}%.0f  tail $tail")
      }
    }
    def lat(cs: String*) = ok.filter(r => cs.contains(r.cls)).map(_.latNs / 1e6)
    def line(metric: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      val tail = Stats.tail(xs).map { case (p, v) => f", tail p$p%.1f $v%.2f ms" }.getOrElse("")
      err.println(f"perfbench:   $metric p50 ${Stats.median(xs)}%.2f ms (n=${xs.length}$tail)")
    }
    // the ref_* classes above pair with BASELINE.md's 1.88 s, 3.24 s and 9.3 s
    name match {
      case "nonequi_join" => ()
      case "curation_batch" =>
        err.println(f"perfbench:   dedup_recall = $recall%.4f")
      case _ =>
        line("read_ms", lat("bm25_read", "ivf_read"))
        line("write_ms", lat("cdc_write"))
        err.println(f"perfbench:   ann_recall_at_k = $recall%.4f")
    }
  }

  private def layerMetrics(traced: IndexedSeq[Rec], untracedOps: Int,
      counters: IndexedSeq[SparkCounters],
      spans: Seq[Span], rounds: Seq[(Boolean, Double)], extra: Map[String, Double],
      cpus: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.length).toDouble
    def perOp(f: SparkCounters => Double) = counters.map(f).sum / n
    val tracedWall = rounds.filter(_._1).map(_._2).sum
    val untracedWall = rounds.filterNot(_._1).map(_._2).sum
    val driverOnlyS = traced.indices.map { i =>
      val r = traced(i)
      val busy = Tracer.unionLength(counters(i).jobIntervals.toSeq
        .map { case (a, b) => (math.max(a, r.startMs), math.min(b, r.endMs)) })
      math.max(0.0, r.latNs / 1e6 - busy) / 1e3
    }.sum / n
    val execRunS = perOp(_.runMs / 1e3)
    val spark = Seq(
      ("spark.jobs", perOp(_.jobs.toDouble), "1/op"),
      ("spark.stages", perOp(_.stages.toDouble), "1/op"),
      ("spark.tasks", perOp(_.tasks.toDouble), "1/op"),
      ("spark.driver_only_s", driverOnlyS, "s/op"),
      ("spark.exec_run_s", execRunS, "s/op"),
      ("spark.exec_cpu_s", perOp(_.cpuNs / 1e9), "s/op"),
      ("spark.exec_busy_frac",
        counters.map(_.runMs / 1e3).sum / math.max(tracedWall * cpus, 1e-9), "fraction"),
      ("spark.gc_s", perOp(_.gcMs / 1e3), "s/op"),
      ("spark.task_wait_s", perOp(_.taskWaitMs / 1e3), "s/op"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "B/op"),
      ("spark.spill_bytes", perOp(_.spill.toDouble), "B/op"))
    val plans = Seq(
      ("plans.plan_ms", perOp(_.planMs.toDouble), "ms/op"),
      ("plans.range_broadcast_execs", perOp(_.rangeBroadcast.toDouble), "1/op"),
      ("plans.range_shuffled_execs", perOp(_.rangeShuffled.toDouble), "1/op"),
      ("plans.nested_loop_execs", perOp(_.nestedLoop.toDouble), "1/op"))
    val ops = Workload.allClasses.flatMap { c =>
      val idx = traced.indices.filter(i => traced(i).cls == c && traced(i).ok)
      def med(f: Int => Double) = if (idx.isEmpty) 0.0 else Stats.median(idx.map(f))
      Seq(
        (s"op.$c.call_ms", med(i => traced(i).callNs / 1e6), "ms"),
        (s"op.$c.call_jobs", med(i => counters(i).jobIntervals.count(_._1 <=
          traced(i).startMs + traced(i).callNs / 1000000L).toDouble), "count"),
        (s"op.$c.action_ms", med(i => traced(i).actionNs / 1e6), "ms"),
        (s"op.$c.exec_cpu_s", med(i => counters(i).cpuNs / 1e9), "s"))
    }
    val layerUnits = Map("sources.bytes_written" -> "B/op", "sources.segment_count" -> "count",
      "sources.write_amp" -> "ratio", "sources.space_amp" -> "ratio",
      "streaming.batches" -> "1/op", "streaming.compactions" -> "1/op")
    val sourcesStreaming = LayerNames.map(k => (k, extra.getOrElse(k, 0.0), layerUnits.getOrElse(k, "ms")))
    val self = Tracer.selfByLayer(spans)
    val selfMetrics = SpanLayers.map(l => (s"self.${l}_ms", self.getOrElse(l, 0L) / 1e6 / n, "ms/op"))
    // mean wall time per op, traced rounds over untraced rounds, minus 1
    val overhead = Seq(("trace.overhead_frac",
      if (untracedOps == 0 || traced.isEmpty) 0.0
      else (tracedWall / traced.length) / (untracedWall / untracedOps) - 1.0, "fraction"))
    plans ++ ops ++ sourcesStreaming ++ spark ++ selfMetrics ++ overhead
  }

  /** Layer metrics the workloads measure themselves (0 where a workload
    * bypasses the layer).
    */
  val LayerNames: Seq[String] = Seq("sources.resolve_ms", "sources.segments_ms",
    "sources.segment_count", "sources.bytes_written", "sources.write_amp", "sources.space_amp",
    "streaming.batch_ms", "streaming.batches", "streaming.compactions")

  /** Span layers reported as self time: the graft call (an operator, or a
    * streaming maintainer for writes) and the action that executes the
    * call's plan. The spans of the two other layers, `harness` (the
    * loop's own bookkeeping) and `sources` (the probes, whose times are
    * `sources.resolve_ms` and `sources.segments_ms`), are written with
    * the rest.
    */
  val SpanLayers: Seq[String] = Seq("operators", "streaming", "execution")

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
}

/** Old-generation heap in use after a full collection, taken once the
  * timed loop is over: the run's retained footprint (its inputs, caches,
  * indexes and Spark's own state) at its largest.
  */
object HeapProbe {
  def oldGenAfterGcMb(): Double = {
    // the second collection runs after Spark's ContextCleaner has
    // dropped the broadcast and shuffle blocks the first one released
    System.gc()
    Thread.sleep(200)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    old.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}
