package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process at local[4].
  *
  *   --workload <knn_join|tile_sink|bucketed_reuse> --seed <n> --seconds <s>
  *   --trace <0|1> --dir <scratch dir> [--trace-out <json path>]
  *   --selftest   (repeatability checks over every workload; exit code only)
  *
  * Set-up: session start, the seeded inputs written three times, one or
  * two warm passes. Then passes run until `--seconds` have elapsed. Every op
  * output is checked against a reference computed without Spark; a failed
  * op is counted and left out of every timing. The last stdout line is the JSON
  * result.
  */
object Main {

  final case class OpStat(op: Op, ok: Boolean, planS: Double, execS: Double, cpuS: Double,
                          start: Long, planEnd: Long, end: Long, count: Long, digest: Long)

  final case class PassStat(ops: Seq[OpStat], heapPeakB: Long, trace: Option[Trace]) {
    private def ok = ops.filter(_.ok)
    val rows: Long = ok.map(_.op.inputRows).sum
    val wallS: Double = ok.map(o => o.planS + o.execS).sum
    def rowsPerS: Double = rows / wallS
    def cpuSPerMrow: Double = ok.map(_.cpuS).sum / (rows / 1e6)
  }

  /** what one traced pass saw: counters per op, spans and self times */
  final case class Trace(plan: Map[String, Counters], exec: Map[String, Counters],
                         spans: Seq[String], selfS: Map[String, Double], driverGapS: Double) {
    def total(op: String): Counters = { val c = new Counters; c.add(plan(op)); c.add(exec(op)); c }
  }

  // ---- process-level measurements ----

  private val osMx = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitMx = ManagementFactory.getCompilationMXBean
  /** process CPU less the JIT compiler's time: the compiler runs for the
    * first minute or more of every run and is not the program's work
    */
  private def cpuNs(): Long = osMx.getProcessCpuTime - jitMx.getTotalCompilationTime * 1000000L
  private def now(): Long = System.currentTimeMillis()

  /** old-generation occupancy after each GC; `peak` is the largest since `reset` */
  object Heap {
    @volatile var peak = 0L
    private def isOld(name: String) = name.contains("Old") || name.contains("Tenured")
    private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => isOld(p.getName))

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if isOld(k) => v.getUsed }.sum
            Heap.synchronized { peak = math.max(peak, old) }
          }
        }, null, null)
      case _ =>
    }

    def reset(): Unit = Heap.synchronized {
      peak = oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    }
  }

  // ---- running ops and passes ----

  def runOp(spark: SparkSession, op: Op): OpStat = {
    val sc = spark.sparkContext
    val (c0, w0, t0) = (cpuNs(), now(), System.nanoTime())
    try {
      sc.setJobGroup(s"${op.name}#plan", op.name)
      val df = op.plan()
      val (w1, t1) = (now(), System.nanoTime())
      sc.setJobGroup(s"${op.name}#exec", op.name)
      val res = op.exec(df)
      val (c2, w2, t2) = (cpuNs(), now(), System.nanoTime())
      sc.clearJobGroup()
      val problems = op.check(res)
      problems.take(5).foreach(p => System.err.println(s"[perfbench] MISMATCH $p"))
      OpStat(op, problems.isEmpty, (t1 - t0) / 1e9, (t2 - t1) / 1e9, math.max(0L, c2 - c0) / 1e9,
        w0, w1, w2, res.count, res.digest)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] FAILED ${op.name}: $e")
        OpStat(op, ok = false, 0, 0, 0, w0, w0, now(), -1, 0)
    } finally {
      sc.clearJobGroup()
      graft.operators.CacheBin.drain()
      spark.catalog.clearCache()
    }
  }

  def runPass(spark: SparkSession, wl: Workload, traced: Boolean): PassStat = {
    val sc = spark.sparkContext
    val probe = if (traced) Some(new Probe) else None
    probe.foreach(sc.addSparkListener)
    Heap.reset()
    val start = now()
    val stats = wl.ops.map(runOp(spark, _))
    val end = now()
    val heap = Heap.peak
    val trace = probe.map { p =>
      org.apache.spark.graftshim.ListenerDrain.waitUntilEmpty(sc)
      sc.removeSparkListener(p)
      summarize(p, stats, start, end)
    }
    PassStat(stats, heap, trace)
  }

  /** span tree pass → op → plan/exec → job → stage, with each kind's self
    * time (duration minus the part its children cover)
    */
  def summarize(p: Probe, stats: Seq[OpStat], start: Long, end: Long): Trace = {
    val spans = mutable.ArrayBuffer[String]()
    val self = mutable.LinkedHashMap("pass" -> 0L, "plan" -> 0L, "exec" -> 0L, "job" -> 0L, "stage" -> 0L)
    def span(id: String, parent: String, name: String, kind: String, a: Long, b: Long): Unit =
      spans += s"""{"id":${Json.str(id)},"parent":${Json.str(parent)},"name":${Json.str(name)},""" +
        s""""kind":"$kind","start_ms":$a,"end_ms":$b}"""
    span("pass", "", "pass", "pass", start, end)
    self("pass") += (end - start) - Probe.covered(stats.map(s => (s.start, s.end)), start, end)
    var gap = 0L
    for (s <- stats) {
      val op = s"op:${s.op.name}"
      span(op, "pass", op, "op", s.start, s.end)
      var opJobs = Seq.empty[(Long, Long)]
      for ((phase, a, b) <- Seq(("plan", s.start, s.planEnd), ("exec", s.planEnd, s.end))) {
        val id = s"$op/$phase"
        span(id, op, phase, phase, a, b)
        val jobs = p.jobsOf(s"${s.op.name}#$phase")
        self(phase) += (b - a) - Probe.covered(jobs.map(j => (j.start, j.end)), a, b)
        opJobs ++= jobs.map(j => (j.start, j.end))
        for (j <- jobs) {
          span(s"job:${j.id}", id, s"job ${j.id}", "job", j.start, j.end)
          val stages = p.stagesOfJob(j.id)
          self("job") += (j.end - j.start) - Probe.covered(stages.map(x => (x.start, x.end)), j.start, j.end)
          for (st <- stages) {
            span(s"stage:${st.id}", s"job:${j.id}", s"stage ${st.id}", "stage", st.start, st.end)
            self("stage") += st.end - st.start
          }
        }
      }
      gap += (s.end - s.start) - Probe.covered(opJobs, s.start, s.end)
    }
    Trace(stats.map(s => s.op.name -> p.countersOf(Seq(s"${s.op.name}#plan"))).toMap,
      stats.map(s => s.op.name -> p.countersOf(Seq(s"${s.op.name}#exec"))).toMap,
      spans.toSeq, self.map { case (k, v) => k -> v / 1e3 }.toMap, gap / 1e3)
  }

  // ---- metric names ----

  val opLayers: Seq[String] = Seq("knn", "pip_join", "distance_join", "extent_join",
    "assign_tiles", "mvt_commands", "mvt_tiles", "pip_bucketed")
  val joinLayers: Seq[String] = Seq("knn", "pip_join", "distance_join", "extent_join", "pip_bucketed")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  // ---- main ----

  final case class Args(workload: String = "", seed: Long = 0, seconds: Int = 10,
                        trace: Boolean = false, dir: String = "", traceOut: String = "",
                        selftest: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t  => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t      => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t   => parse(t, a.copy(seconds = v.toInt))
    case "--trace" :: v :: t     => parse(t, a.copy(trace = v == "1"))
    case "--dir" :: v :: t       => parse(t, a.copy(dir = v))
    case "--trace-out" :: v :: t => parse(t, a.copy(traceOut = v))
    case "--selftest" :: t       => parse(t, a.copy(selftest = true))
    case Nil                     => a
    case other                   => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def session(dir: String): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv.toList)
        require(a.dir.nonEmpty, "--dir is required")
        if (a.selftest) SelfTest.run(a) else bench(a)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] error: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def bench(a: Args): Int = {
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    Heap.install()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.dir)
    val sessionS = (now() - jvmStart) / 1e3
    val wl = Workload(a.workload, spark, a.seed, s"${a.dir}/data")
    val passes = mutable.ArrayBuffer[PassStat]()

    // set-up: the seeded inputs are written three times (the median
    // counts), then warm passes absorb class loading, JIT and codegen
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.generate()
      (System.nanoTime() - t0) / 1e9
    }
    val warm = Seq.fill(wl.warmPasses)(runPass(spark, wl, traced = false))
    passes ++= warm
    val warmS = warm.map(_.ops.map(o => o.planS + o.execS).sum)
    val setupS = sessionS + median(gens) + warmS.sum
    System.err.println(f"[perfbench] session $sessionS%.2f s, inputs ${gens.map(g => f"$g%.2f").mkString(" ")} s, " +
      f"warm passes ${warmS.map(w => f"$w%.2f").mkString(" ")} s")

    // measured window; a traced run orders its passes untraced, traced,
    // traced, untraced, ... (at least two of each), so that the JIT's
    // speed-up does not bias the tracing overhead
    val measured = mutable.ArrayBuffer[PassStat]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    def short = a.trace && i < 4
    while (System.nanoTime() < deadline || short) {
      measured += runPass(spark, wl, traced = a.trace && (i % 4 == 1 || i % 4 == 2))
      i += 1
    }
    passes ++= measured
    // a traced run also makes one traced pass of each other workload, so
    // that every layer is measured; those ops run cold
    val foreign =
      if (!a.trace) Nil
      else Workload.names.filterNot(_ == wl.name).map { n =>
        val fw = Workload(n, spark, a.seed, s"${a.dir}/data-$n")
        fw.generate()
        (fw, runPass(spark, fw, traced = true))
      }
    passes ++= foreign.map(_._2)
    System.err.println(f"[perfbench] measured ${measured.size} passes, ${(now() - jvmStart) / 1e3}%.1f s since JVM start")
    System.err.println(f"[perfbench] JIT compiler ${jitMx.getTotalCompilationTime / 1e3}%.1f s so far")
    measured.foreach(p => System.err.println(f"[perfbench] pass ${p.wallS}%.3f s " +
      f"${p.rowsPerS}%.0f rows/s${if (p.trace.isDefined) " (traced)" else ""}: " +
      p.ops.map(o => f"${o.op.name} ${o.planS}%.2f+${o.execS}%.2f").mkString(", ")))

    val all = passes.flatMap(_.ops)
    val failed = all.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        Seq(("rows_per_s", median(measured.map(_.rowsPerS).toSeq), "1/s"),
          ("cpu_s_per_mrow", median(measured.map(_.cpuSPerMrow).toSeq), "s"),
          ("setup_s", setupS, "s"))
      } else layerMetrics(spark, wl, a, measured.toSeq, foreign, failed.toDouble / all.size)

    metrics.foreach { case (k, v, u) => println(f"$k%-44s $v%.6g $u") }
    val body = metrics.map { case (k, v, u) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    spark.stop()
    System.err.println(f"[perfbench] stopped, ${(now() - jvmStart) / 1e3}%.1f s since JVM start")
    0
  }

  /** every per-layer metric of the traced run: operator and source
    * layers from the last traced pass of this workload and the traced pass
    * of each other one; Spark and span metrics from this workload alone
    */
  def layerMetrics(spark: SparkSession, wl: Workload, a: Args, measured: Seq[PassStat],
                   foreign: Seq[(Workload, PassStat)], failedFrac: Double): Seq[(String, Double, String)] = {
    val traced = measured.filter(_.trace.isDefined)
    val last = traced.last
    val tr = last.trace.get
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    val traceOf = (last +: foreign.map(_._2)).flatMap(p => p.ops.filter(_.ok).map(o => o -> p.trace.get))

    for (layer <- opLayers) {
      val ops = traceOf.filter(_._1.op.layer == layer)
      val plan = new Counters; val both = new Counters
      ops.foreach { case (o, t) => plan.add(t.plan(o.op.name)); both.add(t.total(o.op.name)) }
      val in = ops.map(_._1.op.inputRows).sum.toDouble
      def per(v: Double) = if (in > 0) v / in else 0.0
      out ++= Seq(
        (s"operators.$layer.plan_s", ops.map(_._1.planS).sum, "s"),
        (s"operators.$layer.exec_s", ops.map(_._1.execS).sum, "s"),
        (s"operators.$layer.plan_jobs", plan.jobs.toDouble, "count"),
        (s"operators.$layer.jobs", both.jobs.toDouble, "count"),
        (s"operators.$layer.shuffle_bytes", both.shWriteBytes.toDouble, "B"),
        (s"operators.$layer.spill_bytes", both.spillBytes.toDouble, "B"),
        (s"operators.$layer.scan_amp", per(both.scanRows.toDouble), "ratio"))
      if (joinLayers.contains(layer))
        out += ((s"operators.$layer.replication", per(both.shWriteRecords.toDouble), "ratio"))
    }

    def opS(name: String) = traceOf.map(_._1).filter(_.op.name == name).map(o => o.planS + o.execS).sum
    val (files, bytesRatio) = (wl +: foreign.map(_._1)).collectFirst { case b: BucketedReuse => b.written }.get
    out ++= Seq(("sources.docs_extract.s", opS("docs_extract"), "s"),
      ("sources.write_bucketed.s", opS("write_bucketed"), "s"),
      ("sources.write_bucketed.bytes_per_input_byte", bytesRatio, "ratio"),
      ("sources.write_bucketed.files", files.toDouble, "count"))

    val all = new Counters
    (tr.plan.values ++ tr.exec.values).foreach(all.add)
    // exact counters of the last two traced passes: how many differ
    val mismatches = if (traced.size < 2) 0 else {
      val prev = traced(traced.size - 2).trace.get
      last.ops.map { o =>
        tr.total(o.op.name).exact.zip(prev.total(o.op.name).exact).count { case (u, v) => u != v }
      }.sum
    }
    out ++= Seq(("spark.driver_gap_s", tr.driverGapS, "s"),
      ("spark.task_cpu_s", all.cpuNs / 1e9, "s"),
      ("spark.gc_ms", all.gcMs.toDouble, "ms"),
      ("spark.tasks_failed", all.tasksFailed.toDouble, "count"),
      ("spark.counter_mismatches", mismatches.toDouble, "count"),
      ("spark.heap_peak_mb", median(measured.map(_.heapPeakB / 1e6)), "MB"),
      ("ops_failed_frac", failedFrac, "ratio"))
    tr.selfS.foreach { case (k, v) => out += ((s"trace.$k.self_s", v, "s")) }
    val untraced = median(measured.filter(_.trace.isEmpty).map(_.rowsPerS))
    out += (("trace.overhead_frac", 1.0 - median(traced.map(_.rowsPerS)) / untraced, "ratio"))

    // Spark-free kernels and expression costs on tile_sink's seeded geometry
    val polys = TileSink.polys(a.seed); val lines = TileSink.lines(a.seed)
    val t0 = System.nanoTime()
    for (k <- Kernels.coreKernels(polys, lines)) {
      val c = Kernels.measure(k)
      out ++= Seq((s"core.${k.name}.us_per_row_1t", c.usPerRow1t, "us"),
        (s"core.${k.name}.us_per_row_4t", c.usPerRow4t, "us"),
        (s"core.${k.name}.alloc_b_per_row", c.allocBPerRow, "B"))
    }
    val t1 = System.nanoTime()
    for ((e, ns) <- Kernels.functionCosts(spark, polys, lines, s"${a.dir}/data/exprs.parquet"))
      out += ((s"functions.$e.ns_per_row", ns, "ns"))
    System.err.println(f"[perfbench] core kernels ${(t1 - t0) / 1e9}%.1f s, expressions ${(System.nanoTime() - t1) / 1e9}%.1f s")

    if (a.traceOut.nonEmpty) writeTrace(a, traced ++ foreign.map(_._2))
    out.toSeq
  }

  def writeTrace(a: Args, traced: Seq[PassStat]): Unit = {
    val passes = traced.zipWithIndex.map { case (p, i) =>
      val t = p.trace.get
      val counters = p.ops.map { o =>
        def obj(c: Counters) = c.all.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
        s"${Json.str(o.op.name)}: {\"ok\": ${o.ok}, \"input_rows\": ${o.op.inputRows}, " +
          s"\"plan\": ${obj(t.plan(o.op.name))}, \"exec\": ${obj(t.exec(o.op.name))}}"
      }
      s"""{"pass": $i, "counters": {${counters.mkString(", ")}}, "spans": [${t.spans.mkString(",\n")}]}"""
    }
    val f = new java.io.File(a.traceOut)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "passes": [${passes.mkString(",\n")}]}""")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
