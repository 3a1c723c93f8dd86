package graftbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark driver: one process, one local Spark session, one
  * closed-loop client issuing a workload's operations back to back.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * With --trace 0 it times the untraced loop and prints the end-to-end
  * metrics. With --trace 1 the same loop runs traced (spans + listener)
  * and it prints the per-layer metrics plus the tracing overhead. Either
  * way the last stdout line is one JSON object. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, cores: Int)

  val SetupReps = 3

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val nproc = Runtime.getRuntime.availableProcessors()
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize,
      math.min(4, nproc))
  }

  def session(a: Args, work: Path): SparkSession =
    graft.core.GraftSession.builder(s"local[${a.cores}]", a.cores)
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (!Workloads.names.contains(a.workload)) {
      System.err.println(s"unknown workload ${a.workload}; one of ${Workloads.names.mkString(", ")}")
      sys.exit(2)
    }
    val work = a.root.resolve(".bench_work").resolve(a.workload)
    Exec.deleteTree(work)
    java.nio.file.Files.createDirectories(work)
    val wl = Workloads(a.workload, a.seed, work.resolve("data"))
    var spark: SparkSession = null
    try {
      // ---- set-up, several times: fresh session, inputs, index (once in
      // a traced run, which does not report setup_s)
      val setupS = ArrayBuffer[Double]()
      for (_ <- 0 until (if (a.trace) 1 else SetupReps)) {
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(a, work)
        spark.sparkContext.setLogLevel("WARN")
        wl.setup(spark)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      val sc = spark.sparkContext
      // ---- warm-up, timed once and added to set-up. A traced run always
      // warms up, so its spans compare calls in the same JIT state.
      var warmS = 0.0
      var warmFailed = 0
      if (wl.warm || a.trace) {
        val t0 = System.nanoTime()
        warmFailed = wl.warmUp(spark)
        warmS = (System.nanoTime() - t0) / 1e9
      }

      // ---- closed loop in whole rotations, untraced or traced. After a
      // warm-up the operations continue from the next rotation (the
      // weather table keeps the warm-up's refresh and grows from there).
      val opS = ArrayBuffer[(String, Double)]()
      var items = 0L
      var attempted, failed = 0
      var i = if (wl.warm || a.trace) wl.cycle else 0
      def elapsed(from: Long) = (System.nanoTime() - from) / 1e9
      def runOne(tr: Tracer): Boolean = {
        wl.beforeOp(spark, i)
        attempted += 1
        val op = i
        i += 1
        tr.beginOp(op)
        val t0 = System.nanoTime()
        val ok =
          try {
            items += tr.span(wl.kind(op)) { wl.op(spark, op, tr) }
            opS += ((wl.kind(op), (System.nanoTime() - t0) / 1e9))
            true
          } catch {
            case e: Exception =>
              System.err.println(s"[graftbench] op $op failed: $e")
              false
          }
        val bad = if (ok) wl.check(spark, op) else 1
        failed += bad
        ok && bad == 0
      }
      def loop(seconds: Double, tr: Tracer)(after: Int => Unit): Unit = {
        val start = System.nanoTime()
        do {
          for (_ <- 0 until wl.cycle) { val op = i; if (runOne(tr)) after(op) }
        } while (elapsed(start) < seconds)
        failed += wl.finish(spark)
      }
      val layer = ArrayBuffer[Map[String, Double]]()
      var overhead = 0.0
      if (!a.trace) loop(a.seconds, Tracer.Off)(_ => ())
      else {
        val listener = new BenchListener
        sc.addSparkListener(listener)
        spark.listenerManager.register(listener)
        val tracer = new Tracer(true, () => sc, Some(listener))
        val traceStart = System.nanoTime()
        loop(a.seconds, tracer) { op =>
          val spans = tracer.opSpans(op)
          val root = spans.find(_.parent == -1).get
          val core =
            if (root.name != wl.coreKind) Map.empty[String, Double]
            else {
              val cmp = wl.coreSpan.flatMap(n => spans.find(_.name == n)).getOrElse(root)
              val d = cmp.delta
              // planning: the planner's own phase times of the queries run
              // inside the window, so an opaque call like runReport counts
              // too; execution: the rest of the window
              val plan = d.planMs / 1e3
              Map(
                "core.plan_s" -> plan,
                "core.exec_s" -> (cmp.durNs / 1e9 - plan),
                "core.jobs_per_op" -> d.jobs.toDouble,
                "core.tasks_per_op" -> d.tasks.toDouble,
                "core.task_busy_share" -> d.runMs / (cmp.durNs / 1e6 * a.cores),
                "core.cache_mb" -> listener.peakCacheBytes(sc) / 1e6,
                "core.shuffle_mb" -> d.shuffleBytes / 1e6,
                "core.scan_mb" -> d.scanBytes / 1e6,
                "core.spill_mb" -> d.spillBytes / 1e6,
                "core.gc_s" -> d.gcMs / 1e3,
                "trace.op_s" -> root.durNs / 1e9)
            }
          layer += wl.layerMetrics(spark, op, spans) ++ core
        }
        // tracing's own cost: time spent reading counters at span edges,
        // as a share of the traced loop's wall time
        overhead = tracer.bookkeepingNs / 1e9 / elapsed(traceStart)
        tracer.writeJson(a.root.resolve(".bench_trace")
          .resolve(s"${a.workload}-seed${a.seed}.spans.json"))
      }

      val quality = wl.quality(spark)
      val correct = failed == 0 && warmFailed == 0
      val times = opS.map(_._2).toSeq
      if (times.isEmpty) throw new IllegalStateException("no operation completed")
      val byKind = opS.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSeq }

      // ---- report
      println(s"[graftbench] workload ${wl.name}, seed ${a.seed}, local[${a.cores}], " +
        s"closed loop, 1 client, ${a.seconds} s" + (if (a.trace) ", traced" else ""))
      wl.props.foreach { case (k, v) => println(s"[graftbench] input $k = $v") }
      val setup = Stats.median(setupS.toSeq) + warmS
      val rate = items / times.sum
      val opGeo = Stats.geomean(byKind.map { case (_, xs) => Stats.median(xs) })
      println(f"[graftbench] setup_s = $setup%.4f s (median of ${setupS.size} set-ups: " +
        setupS.map(x => f"$x%.3f").mkString(", ") + f" s, plus warm-up $warmS%.3f s)")
      println(f"[graftbench] ${wl.throughputName} = $rate%.4f ${wl.itemUnit}/s " +
        s"(${times.size} ${wl.opUnit}s, $items ${wl.itemUnit})")
      byKind.foreach { case (k, xs) =>
        val tail = Stats.tail(xs)
        println(f"[graftbench] $k.p50 = ${Stats.median(xs)}%.4f s, " +
          f"$k.tail = ${tail.value}%.4f s (p${tail.pct}, n = ${tail.n})")
      }
      println(f"[graftbench] op_s.p50_geomean = $opGeo%.4f s (over ${byKind.size} kind(s))")
      println(f"[graftbench] quality = $quality%.4f (${wl.qualityName})")
      println(s"[graftbench] operations: $attempted attempted, $failed failed")
      val metrics =
        if (!a.trace) Seq(
          ("setup_s", setup, "s"),
          ("items_per_s", rate, "1/s"),
          ("op_s.p50_geomean", opGeo, "s"),
          ("quality", quality, "share"))
        else Layers.all.map { case (name, unit) =>
          val v =
            if (name == "trace.overhead_share") overhead
            else wl.setupMetrics.getOrElse(name, {
              val xs = layer.flatMap(_.get(name))
              if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
            })
          println(f"[graftbench] layer $name = $v%.6f $unit")
          (name, v, unit)
        }
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}"""
      }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    } finally {
      if (spark != null) spark.stop()
      Exec.deleteTree(work)
    }
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString
}

/** Every per-layer metric the traced run reports, with its unit. A layer
  * a workload does not call reports 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "core.plan_s" -> "s", "core.exec_s" -> "s",
    "core.jobs_per_op" -> "count", "core.tasks_per_op" -> "count",
    "core.task_busy_share" -> "share", "core.cache_mb" -> "MB",
    "core.shuffle_mb" -> "MB", "core.scan_mb" -> "MB", "core.spill_mb" -> "MB",
    "core.gc_s" -> "s",
    "trace.overhead_share" -> "share", "trace.op_s" -> "s") ++
    Seq("sub_config", "sub_alert", "sub_modon", "sub_gb", "sub_bm", "sub_eu",
      "sub_sago", "sub_dope", "sub_ship", "sub_sched", "sub_plan")
      .map(s => s"sections.${s}_s" -> "s") ++ Seq(
    "pipeline.week_sub_s" -> "s", "pipeline.week_summary_s" -> "s",
    "pipeline.report_s" -> "s", "sinks.report_write_s" -> "s",
    "weekly.accounted_share" -> "share",
    "dedup.exact_s" -> "s", "functions.minhash_s" -> "s", "dedup.lsh_s" -> "s",
    "dedup.jaccard_s" -> "s", "text.quality_s" -> "s", "pipeline.curation_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.candidate_yield" -> "share",
    "sources.parse_kma_s" -> "s", "sinks.merge_s" -> "s", "sinks.write_amp" -> "ratio",
    "sinks.table_mb" -> "MB", "sinks.table_files" -> "count",
    "sources.rejected_envelopes" -> "count",
    "similarity.construct_s" -> "s", "ann.index_build_s" -> "s")
}
