package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

import graft.affine.LocalAffine
import graft.core.BlockIndex
import graft.ndarray.Nd

/** Disk-to-disk benchmark of the stitch, affine-field and driver-query
  * paths. One workload per JVM at local[4]; a closed loop with one client
  * (the next pass starts when the previous one finished).
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints each metric with its unit, then one JSON result line. Exits 1 when
  * an output check fails.
  */
object Main {
  val cores = 4

  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "setup_s" -> "s")

  /** Per-layer metrics of a traced run, the same on every workload (0 where
    * a layer does no work); the last ones are a time and a job count per
    * driver query.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "io.read_s" -> "s", "io.write_s" -> "s", "io.read_mb" -> "MB", "io.write_mb" -> "MB",
    "io.files" -> "count",
    "stitch.map_s" -> "s", "stitch.pieces" -> "count", "stitch.piece_mb" -> "MB",
    "exchange.write_mb" -> "MB", "exchange.read_mb" -> "MB", "exchange.records" -> "count",
    "exchange.write_s" -> "s", "exchange.fetch_wait_s" -> "s", "exchange.spill_mb" -> "MB",
    "merge.layer_s" -> "s", "merge.reduce_s" -> "s", "merge.peak_exec_mb" -> "MB",
    "task.gc_s" -> "s", "task.cpu_s" -> "s", "task.ser_s" -> "s",
    "affine.kernel_s" -> "s", "affine.blocks" -> "count",
    "ndarray.slice_weighted_ns_per_vox" -> "ns", "ndarray.slice_weighted_gbps" -> "GB/s",
    "ndarray.add_into_ns_per_vox" -> "ns", "ndarray.add_into_gbps" -> "GB/s",
    "ndarray.merge_neighbors_ns_per_vox" -> "ns",
    "host.copy_gbps" -> "GB/s", "host.copy_mb" -> "MB", "host.llc_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "driver.gap_s" -> "s", "plan.s" -> "s",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s", "trace.overhead_s" -> "s") ++
    DriverQueries.pins.keys.toSeq.sorted.flatMap(k => Seq(s"query.$k.s" -> "s", s"query.$k.jobs" -> "count"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
  def timed[T](f: => T): (T, Double) = { val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9) }

  def main(args: Array[String]): Unit = {
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".perfbench/work")).toAbsolutePath
    Files.createDirectories(work)

    val (spark, sessionS) = timed {
      val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.icu.caseMappings.enabled", "false")
      // the driver queries run with the repo's planner extensions, as in its own bench
      if (wname == DriverQueries.name) b.config("spark.sql.extensions", "graft.functions.GraftExtensions")
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val w: Workload = wname match {
      case "stitch_tiles_npy" => new StitchNpy(spark, seed, work, Geometry(3, 80, 10))
      case "stitch_blocks_parquet" => new StitchParquet(spark, seed, work, Geometry(10, 16, 4))
      case "affine_field_npy" => new AffineNpy(spark, seed, work, Geometry(3, 96, 12))
      case DriverQueries.name => new DriverQueries(spark, work, DriverQueries.sf)
      case other => sys.error(s"unknown workload '$other'")
    }

    var attempted = 0
    var failed = 0
    /** One pass, housekeeping untimed; returns (wall s, process CPU s). */
    def runPass(): (Double, Double) = {
      w.beforePass()
      val c0 = cpuS
      val (f, wall) = timed(try w.pass() catch {
        case e: Exception => System.err.println(s"[perfbench] pass failed: $e"); w.units
      })
      attempted += w.units; failed += f
      (wall, cpuS - c0)
    }

    // ---- set-up: session, inputs (median of `genReps` generations), warm-up passes
    val genS = median((1 to w.genReps).map(_ => timed { w.generate(); Dirs.sync(w.inputDir) }._2))
    val warm = (1 to w.warmPasses).map(_ => runPass()._1)
    val setupS = jvmUpS + sessionS + genS + warm.sum
    System.err.println(f"[perfbench] setup: jvm $jvmUpS%.2f s, session $sessionS%.2f s, " +
      f"inputs $genS%.2f s (median of ${w.genReps}), warm-up passes ${warm.map(x => f"$x%.2f").mkString(" ")} s")

    val metrics = LinkedHashMap.empty[String, Double]
    var traceOut: Option[TraceResult] = None
    if (!trace) {
      val t0 = System.nanoTime()
      val passes = ArrayBuffer.empty[(Double, Double)]
      while (passes.length < w.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) passes += runPass()
      metrics("wall_s") = median(passes.map(_._1).toSeq)
      metrics("setup_s") = setupS
      println(f"[perfbench] $wname: ${passes.length} timed passes, walls ${passes.map(p => f"${p._1}%.3f").mkString(" ")}")
      // printed, not gated: see perfbench/README.md
      println(s"[perfbench] metric cpu_s = ${median(passes.map(_._2).toSeq)} s")
      println(s"[perfbench] metric peak_rss_mb = $peakRssMb MB")
    } else {
      val tr = new TracedRun(spark, w, seed, seconds, () => runPass())
      traceOut = Some(tr.run())
      metrics ++= traceOut.get.metrics
    }

    // ---- output checks and the checks' own self-test, outside timing
    val (problems, checkS) = timed(w.check())
    val (selfProblems, selfS) = timed(w.selfTest())
    System.err.println(f"[perfbench] output check $checkS%.2f s, check self-test $selfS%.2f s")
    problems.take(10).foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    selfProblems.foreach(p => System.err.println(s"[perfbench] SELF-TEST FAILED: $p"))
    failed += (if (problems.nonEmpty) 1 else 0) + (if (selfProblems.nonEmpty) 1 else 0)
    failed = math.min(failed, attempted)
    traceOut.foreach(_.write(work.resolve("trace"), wname, seed, setupS, failed, attempted))

    val units = (if (trace) perLayer else endToEnd).toMap
    if (!trace) {
      if (w.outVoxels > 0)
        println(f"[perfbench] metric mvox_per_s = ${w.outVoxels / 1e6 / metrics("wall_s")}%.3f Mvox/s")
      println(s"[perfbench] metric fail_ratio = ${failed.toDouble / attempted} ratio ($failed of $attempted)")
    }
    metrics.foreach { case (k, v) => println(s"[perfbench] metric $k = $v ${units(k)}") }
    val correct = failed == 0
    val ms = metrics.map { case (k, v) => s""""$k": {"value": $v, "unit": "${units(k)}"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
    spark.stop()
    if (!correct) sys.exit(1)
  }
}

/** Result of a traced run: per-layer metrics plus the spans behind them. */
final class TraceResult(val metrics: LinkedHashMap[String, Double], val layers: Seq[(String, Double)],
    overheadPairs: Seq[(Double, Double)], tracer: Tracer, notes: Seq[String]) {
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(dir: Path, workload: String, seed: Long, setupS: Double, failed: Int, attempted: Int): Unit = {
    Files.createDirectories(dir)
    val spans = tracer.all.map { s =>
      s"""    {"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "run": ${q(s.run)}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "dur_s": ${s.durS}, "self_s": ${tracer.selfTimeS(s)}}"""
    }
    val json =
      s"""{
         |  "workload": ${q(workload)}, "seed": $seed, "run": ${q(tracer.run)},
         |  "setup_s": $setupS, "failed": $failed, "attempted": $attempted,
         |  "notes": [${notes.map(q).mkString(", ")}],
         |  "overhead_pairs_s": [${overheadPairs.map { case (off, on) => s"[$off, $on]" }.mkString(", ")}],
         |  "layer_self_s": {${layers.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}},
         |  "metrics": {${metrics.map { case (k, v) => s"${q(k)}: $v" }.mkString(", ")}},
         |  "spans": [
         |${spans.mkString(",\n")}
         |  ]
         |}
         |""".stripMargin
    Files.write(dir.resolve(s"$workload-seed$seed.json"), json.getBytes("UTF-8"))
  }
}

/** The traced run: tracing overhead (full passes with the listeners off
  * and on, in alternating order), then repeated prefix drains, one span per prefix with the Spark
  * stages under it, then the single-thread ndarray baseline.
  */
final class TracedRun(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
    runPass: () => (Double, Double)) {
  import Main.{median, timed}
  private val sc = spark.sparkContext
  private val tracer = new Tracer(s"${w.name}-${seed}-${System.currentTimeMillis()}")
  private val stageL = new StageListener
  private val planL = new PlanListener

  private def attach(on: Boolean): Unit =
    if (on) { sc.addSparkListener(stageL); spark.listenerManager.register(planL) }
    else { sc.removeSparkListener(stageL); spark.listenerManager.unregister(planL) }

  /** Adds a child span per Spark stage of `group` under span `parent`. */
  private def stageSpans(group: String, parent: Int): Seq[StageAgg] = {
    val st = stageL.stagesIn(group)
    st.foreach(s => tracer.add(s"stage.${s.stageId}", parent, tracer.fromMillis(s.submittedMs),
      tracer.fromMillis(s.completedMs)))
    st
  }

  def run(): TraceResult = {
    // tracing overhead: the same full pass with the listeners off and on,
    // in pairs whose order alternates so that a drift in pass times cancels
    def traced(): Double = { attach(true); val t = runPass()._1; attach(false); t }
    val pairs = (0 until TracedRun.overheadPairs).map { i =>
      if (i % 2 == 0) { val off = runPass()._1; (off, traced()) }
      else { val on = traced(); (runPass()._1, on) }
    }
    attach(true)
    val iters = ArrayBuffer.empty[LinkedHashMap[String, Double]]
    val layerIters = ArrayBuffer.empty[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    val isDriver = w.isInstanceOf[DriverQueries]
    while (iters.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = iters.length
      val (spansByPrefix, root) = tracer.span(s"iteration.$i") { root =>
        val ids = w.prefixes.map { case (p, f) =>
          sc.setJobGroup(s"$p#$i", p)
          w.beforePass()
          p -> tracer.span(p, root)(_ => f())._2
        }
        val qids = w match {
          case d: DriverQueries =>
            Seq("queries" -> tracer.span("queries", root) { qs =>
              d.keys.foreach { k =>
                sc.setJobGroup(s"q:$k#$i", k)
                tracer.span(s"query.$k", qs) { qspan =>
                  val (df, _) = tracer.span("plan", qspan) { _ => val df = d.query(k); df.queryExecution.executedPlan; df }
                  tracer.span("execute", qspan)(_ => df.collect())
                }
              }
            }._2)
          case _ => Nil
        }
        (ids ++ qids).toMap
      }
      sc.clearJobGroup()
      org.apache.spark.PerfbenchBusDrain(sc)
      val spans = tracer.all
      def dur(p: String): Double = spansByPrefix.get(p).map(id => spans(id).durS).getOrElse(0.0)
      val m = LinkedHashMap.empty[String, Double]
      Main.perLayer.foreach { case (k, _) => m(k) = 0.0 }
      def stageSum(st: Seq[StageAgg])(f: StageAgg => Double) = st.map(f).sum

      // the stage set of a full pass, its wall and its window
      val (fullGroups, fullSpan) =
        if (isDriver) (d(w).keys.map(k => s"q:$k#$i"), spans(spansByPrefix("queries")))
        else (Seq(s"full#$i"), spans(spansByPrefix("full")))
      def querySpan(k: String) =
        spans.find(s => s.name == s"query.$k" && s.parent == spansByPrefix("queries")).get
      val full =
        if (isDriver) d(w).keys.flatMap(k => stageSpans(s"q:$k#$i", querySpan(k).id))
        else stageSpans(s"full#$i", spansByPrefix("full"))
      w.prefixes.map(_._1).filterNot(_ == "full").foreach(p => stageSpans(s"$p#$i", spansByPrefix(p)))
      m("spark.jobs") = fullGroups.map(stageL.jobsIn).sum
      m("spark.stages") = full.length
      m("spark.tasks") = full.map(_.tasks).sum
      m("task.cpu_s") = stageSum(full)(_.cpuNs / 1e9)
      m("task.gc_s") = stageSum(full)(_.gcMs / 1e3)
      m("task.ser_s") = stageSum(full)(s => (s.deserMs + s.resultSerMs) / 1e3)
      m("driver.gap_s") = fullSpan.durS - Tracer.unionNs(full.map(s =>
        (tracer.fromMillis(s.submittedMs), tracer.fromMillis(s.completedMs)))) / 1e9
      m("plan.s") = planL.planSecondsBetween(fullSpan.startNs / 1000000, fullSpan.endNs / 1000000)
      m("exchange.write_mb") = stageSum(full)(_.shWriteBytes / 1e6)
      m("exchange.read_mb") = stageSum(full)(_.shReadBytes / 1e6)
      m("exchange.records") = stageSum(full)(_.shWriteRecords.toDouble)
      m("exchange.write_s") = stageSum(full)(_.shWriteNs / 1e9)
      m("exchange.fetch_wait_s") = stageSum(full)(_.fetchWaitMs / 1e3)
      m("exchange.spill_mb") = stageSum(full)(_.spillBytes / 1e6)
      val layers = ArrayBuffer.empty[(String, Double)]
      w match {
        case d: DriverQueries =>
          m("io.read_s") = dur("read")
          d.keys.foreach { k =>
            m(s"query.$k.s") = querySpan(k).durS
            m(s"query.$k.jobs") = stageL.jobsIn(s"q:$k#$i")
          }
          layers += "io.read" -> dur("read")
          layers ++= d.keys.map(k => s"query.$k" -> m(s"query.$k.s"))
          layers += "driver.gap" -> m("driver.gap_s")
        case _: AffineNpy =>
          m("affine.kernel_s") = dur("kernel")
          m("io.write_s") = dur("full") - dur("kernel")
          layers ++= Seq("affine.kernel" -> dur("kernel"), "io.write" -> m("io.write_s"))
        case _ =>
          val red = stageL.stagesIn(s"merge#$i").filter(_.shReadBytes > 0)
          m("io.read_s") = dur("read")
          m("stitch.map_s") = dur("map") - dur("read")
          m("merge.layer_s") = dur("merge") - dur("map")
          m("io.write_s") = dur("full") - dur("merge")
          m("merge.reduce_s") = stageSum(red)(_.runMs / 1e3)
          m("merge.peak_exec_mb") = stageSum(red)(_.peakExecBytes / 1e6)
          m("stitch.pieces") = m("exchange.records")
          layers ++= Seq("io.read" -> m("io.read_s"), "stitch.map" -> m("stitch.map_s"),
            "exchange+merge" -> m("merge.layer_s"), "io.write" -> m("io.write_s"))
      }
      m("io.read_mb") = Dirs.bytes(w.inputDir) / 1e6
      m("io.write_mb") = Dirs.bytes(w.outputDir) / 1e6
      m("io.files") = Dirs.dataFiles(w.inputDir).length + Dirs.dataFiles(w.outputDir).length
      iters += m
      layerIters += layers.toSeq
    }
    sc.clearJobGroup()
    attach(false)

    val out = LinkedHashMap.empty[String, Double]
    Main.perLayer.foreach { case (k, _) => out(k) = median(iters.map(_(k)).toSeq) }
    out("trace.untraced_wall_s") = median(pairs.map(_._1))
    out("trace.traced_wall_s") = median(pairs.map(_._2))
    out("trace.overhead_s") = median(pairs.map(p => p._2 - p._1))
    w match {
      case s: StitchInput =>
        // payload of the halo pieces, summed in an untimed job
        import org.apache.spark.sql.functions.{col, size, sum}
        out("stitch.piece_mb") = graft.stitch.Stitch.emitPieces(s.grid).toDF()
          .agg(sum(size(col("data")).cast("long"))).head().getLong(0) * 4 / 1e6
      case a: AffineNpy => out("affine.blocks") = a.ndGeometry.numBlocks
      case _ =>
    }
    out ++= NdProbe.run(w.ndGeometry, seed)
    val layers = layerIters.head.map(_._1).map(k => k -> median(layerIters.map(_.toMap.apply(k)).toSeq))
    val g = w.ndGeometry
    new TraceResult(out, layers, pairs, tracer, Seq(
      s"${iters.length} traced iterations; per-layer values are medians over them",
      "layer self times of array workloads are differences of successive prefix drains",
      s"ndarray probes: one block of ${g.bs}^3 (overlap ${g.o}), single thread; GB/s figures are computed bytes " +
        "(slice_weighted 8 B/vox, add_into 12 B/vox), not measured memory traffic",
      f"host copy probe: two arrays of ${out("host.copy_mb")}%.0f MB each, last-level cache ${out("host.llc_mb")}%.0f MB"))
  }

  private def d(w: Workload): DriverQueries = w.asInstanceOf[DriverQueries]
}

object TracedRun {
  /** (untraced, traced) full-pass pairs behind `trace.overhead_s`. */
  val overheadPairs = 6
}

/** Single-thread kernel baseline on one block of a workload's geometry,
  * plus a copy-bandwidth probe on arrays of at least 4x the last-level cache.
  */
object NdProbe {
  /** Median seconds per call over batches of at least ~2 ms each. */
  private def perCall(f: () => Any): Double = {
    f(); f()
    val (_, one) = Main.timed(f())
    val batch = math.max(1, math.ceil(0.002 / math.max(one, 1e-9)).toInt)
    Main.median((1 to 9).map(_ => Main.timed((1 to batch).foreach(_ => f()))._2 / batch))
  }

  def llcBytes: Long = {
    val base = Paths.get("/sys/devices/system/cpu/cpu0/cache")
    val sizes = (0 to 4).flatMap { i =>
      val p = base.resolve(s"index$i/size")
      if (!Files.exists(p)) None else {
        val s = new String(Files.readAllBytes(p)).trim
        val mult = if (s.endsWith("K")) 1024L else if (s.endsWith("M")) 1L << 20 else 1L
        s.stripSuffix("K").stripSuffix("M").toLongOption.map(_ * mult)
      }
    }
    if (sizes.isEmpty) 32L << 20 else sizes.max
  }

  def run(g: Geometry, seed: Long): Seq[(String, Double)] = {
    val bs = g.bs; val cs = bs + 2 * g.o
    val vox = bs.toDouble * bs * bs
    val src = Vox.tile(seed, g, BlockIndex(1, 1, 1))
    val w = Nd.stitchProfile(bs, g.o, false, false)
    val slice = perCall(() => Nd.sliceCopyWeighted(src, cs, cs, cs, 1, g.o, g.o, g.o, bs, bs, bs, w, w, w))
    val dst = new Array[Float](bs * bs * bs)
    val patch = Nd.sliceCopy(src, cs, cs, cs, 1, 0, 0, 0, bs, bs, bs)
    val add = perCall(() => Nd.addInto(dst, bs, bs, bs, 1, patch, 0, 0, 0, bs, bs, bs))
    val g3 = Geometry(3, bs, g.o)
    val aff = Vox.affines(seed, g3)
    val merge = perCall(() => LocalAffine.mergeNeighbors(BlockIndex(1, 1, 1), g3.bsArr, g3.dims,
      Array(1f, 1f, 1f), aff, g3.oArr, displacement = true))
    val llc = llcBytes
    val n = (4 * llc / 4).toInt
    val a = new Array[Float](n); java.util.Arrays.fill(a, 1f)
    val b = new Array[Float](n)
    System.arraycopy(a, 0, b, 0, n)
    val copy = Main.median((1 to 5).map(_ => Main.timed(System.arraycopy(a, 0, b, 0, n))._2))
    Seq(
      "ndarray.slice_weighted_ns_per_vox" -> slice * 1e9 / vox,
      "ndarray.slice_weighted_gbps" -> 8 * vox / slice / 1e9,
      "ndarray.add_into_ns_per_vox" -> add * 1e9 / vox,
      "ndarray.add_into_gbps" -> 12 * vox / add / 1e9,
      "ndarray.merge_neighbors_ns_per_vox" -> merge * 1e9 / vox,
      "host.copy_gbps" -> 2.0 * n * 4 / copy / 1e9,
      "host.copy_mb" -> n * 4 / 1e6,
      "host.llc_mb" -> llc / 1e6)
  }
}
