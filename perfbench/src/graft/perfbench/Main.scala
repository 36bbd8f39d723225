package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.graph.GraphOps

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <cooc|planted_frac> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --spans <file>
  * }}}
  *
  * Set-up runs five times (session start plus input generation and
  * load) and reports the median. Then passes run back to back, a
  * closed loop with one caller, until `--seconds` have gone by; at
  * least one pass always runs, and every pass runs the same
  * operations. There is no warm-up pass: the first pass pays class
  * loading, code generation and JIT compilation, as a job submitted
  * to a fresh session does. Then come the workload's extra Louvain
  * calls, if any ([[Workload.louvainRepeats]]). The last line of
  * standard output is the JSON result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, spans: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("spans"))
  }

  def workload(name: String, cores: Int): Workload = name match {
    case "cooc" => new Cooc(cores)
    case "planted_frac" => new PlantedWorkload(cores)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Reference.selfCheck()
    val cores = Runtime.getRuntime.availableProcessors()
    val w = workload(o.workload, cores)

    // Set-up, five times; the inputs of the last one are used.
    val sessionS = Seq.newBuilder[Double]
    val inputsS = Seq.newBuilder[Double]
    var spark: SparkSession = null
    for (rep <- 0 until 5) {
      if (spark != null) spark.stop()
      var t0 = System.nanoTime()
      spark = session(o.work, cores)
      sessionS += secondsSince(t0)
      val dir = s"${o.work}/inputs$rep"
      deleteTree(new java.io.File(dir))
      t0 = System.nanoTime()
      w.prepare(spark, dir, o.seed)
      inputsS += secondsSince(t0)
    }
    var t0 = System.nanoTime()
    w.computeReferences(spark)
    val referencesS = secondsSince(t0)
    val listener = if (o.trace) Some(new SpanListener) else None
    val tracer = new Tracer(spark.sparkContext, listener)

    val setupSession = median(sessionS.result())
    val setupInputs = median(inputsS.result())
    val setupS = median(sessionS.result().zip(inputsS.result()).map(p => p._1 + p._2))

    // Measured passes. After its first pass, the traced run alternates
    // traced (odd) and untraced (even) passes, so the two kinds can be
    // compared warm, in one process.
    val passes = Seq.newBuilder[Pass]
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || secondsSince(start) < o.seconds || (o.trace && i < 3)) {
      GraphOps.clearAllMemos(spark)
      val p = new Pass(i, tracer)
      def run(): Unit = tracer.span(i, "pass")(w.pass(spark, p))
      if (o.trace && i % 2 == 1) tracer.traced(run()) else run()
      passes += p
      i += 1
    }
    val all0 = passes.result()
    val repeats = new Pass(all0.size, tracer)
    GraphOps.clearAllMemos(spark)
    w.louvainRepeats(spark, repeats)
    val all = all0 :+ repeats
    System.err.println(f"[perfbench] ${w.name}: session ${sessionS.result().map(x => f"$x%.2f").mkString(" ")} s, " +
      f"inputs ${inputsS.result().map(x => f"$x%.2f").mkString(" ")} s, references $referencesS%.2f s, " +
      f"passes ${all0.map(x => f"${x.wall}%.2f").mkString(" ")} s")
    val (traced, untraced) = all0.partition { p => o.trace && p.index % 2 == 1 }
    val measured = if (o.trace) traced else all0
    val untracedWarm = untraced.filter(_.index > 0)

    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failures.size).sum
    val correct = !all.exists(_.unexpected)
    all.foreach { p =>
      p.failures.foreach(f => System.err.println(s"[perfbench] ${w.name} pass ${p.index}: $f"))
    }

    def med(f: Pass => Option[Double]): Double = median(measured.flatMap(f))
    def opS(name: String): Double = med(_.seconds.get(name))
    def value(name: String): Double = med(_.values.get(name))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("run_s", med(p => Some(p.wall)), "s"),
        ("louvain_s", median(measured.flatMap(_.seconds.get("louvain")) ++
          repeats.seconds.collect { case (k, v) if k.startsWith("louvain_repeat") => v }), "s"),
        ("modularity_e6", value("modularity_e6"), "Q_e6"),
        ("peak_heap_mb", median(measured.map(_.peakHeapMb)), "MB"))
      else {
        val l = listener.get
        val (localS, graphxS, graphxLevels) = tracer.traced(w.engines(spark, tracer))
        def counters(p: Pass, names: Seq[String]): Counters = {
          val c = new Counters
          names.foreach(n => c += l.snapshot(tracer.key(p.index, n)))
          c
        }
        def cMed(names: String*)(f: Counters => Double): Double =
          median(measured.map(p => f(counters(p, names))))
        val mb = 1024.0 * 1024.0
        val engineJobs = l.snapshot(tracer.key(-1, "graphx_louvain.engine")).jobs
        val analytics = Seq("degrees", "cc", "pagerank", "lpa", "triangles", "modularity_of")
        def passMed(f: (Pass, Counters) => Double): Double =
          median(measured.map(p => f(p, counters(p, p.seconds.keys.toSeq))))
        Seq(
          ("builder.coedges_s", opS("coedges"), "s"),
          ("builder.shuffle_write_mb", cMed("coedges")(_.shuffleWriteBytes / mb), "MB"),
          ("ops.degrees_s", opS("degrees"), "s"),
          ("ops.cc_s", opS("cc"), "s"),
          ("ops.pagerank_s", opS("pagerank"), "s"),
          ("ops.lpa_s", opS("lpa"), "s"),
          ("ops.triangles_s", opS("triangles"), "s"),
          ("ops.modularity_of_s", opS("modularity_of"), "s"),
          ("ops.result_mb", cMed(analytics: _*)(_.resultBytes / mb), "MB"),
          // The gate's own jobs: the weight probe, and on the driver
          // path the rows it collects.
          ("louvain.gate_s", cMed("louvain")(_.jobMs("GraphOps.scala") / 1e3), "s"),
          ("louvain.levels_s", opS("levels"), "s"),
          ("louvain.result_mb", cMed("louvain")(_.resultBytes / mb), "MB"),
          ("louvain.jobs", cMed("louvain")(_.jobs.toDouble), "count"),
          ("louvain.tasks", cMed("louvain")(_.tasks.toDouble), "count"),
          ("louvain.shuffle_write_mb", cMed("louvain")(_.shuffleWriteBytes / mb), "MB"),
          ("louvain.spill_mb", cMed("louvain")(_.spillBytes / mb), "MB"),
          ("louvain.gc_s", cMed("louvain")(_.gcMs / 1e3), "s"),
          ("louvain.levels", value("louvain.levels"), "count"),
          ("louvain.communities", value("louvain.communities"), "count"),
          ("local_louvain.engine_s", localS, "s"),
          ("graphx_louvain.engine_s", graphxS, "s"),
          ("graphx_louvain.jobs_per_level",
            if (graphxLevels > 0) engineJobs.toDouble / graphxLevels else 0.0, "count"),
          ("leiden.refine_s", opS("leiden"), "s"),
          ("leiden.split_communities", value("leiden.split_communities"), "count"),
          ("stream.fold_s", opS("stream"), "s"),
          ("stream.bytes_written_mb", cMed("stream")(_.outputBytes / mb), "MB"),
          ("stream.jobs", cMed("stream")(_.jobs.toDouble), "count"),
          ("stream.modularity_e6", value("stream.modularity_e6"), "Q_e6"),
          ("spark.jobs", passMed((_, c) => c.jobs.toDouble), "count"),
          ("spark.stages", passMed((_, c) => c.stages.toDouble), "count"),
          ("spark.tasks", passMed((_, c) => c.tasks.toDouble), "count"),
          ("spark.task_run_s", passMed((_, c) => c.taskRunMs / 1e3), "s"),
          ("spark.core_busy", passMed((p, c) => c.taskRunMs / 1e3 / (p.wall * cores)), "ratio"),
          ("setup.session_s", setupSession, "s"),
          ("setup.inputs_s", setupInputs, "s"),
          ("trace.overhead_s",
            median(traced.map(_.wall)) - median(untracedWarm.map(_.wall)), "s"))
      }

    if (o.trace) {
      val out = java.nio.file.Paths.get(o.spans)
      tracer.writeJsonl(out, w.name, o.seed)
      System.err.println(s"[perfbench] spans written to $out")
    }
    System.err.println(s"[perfbench] ${w.name} reference: ${w.summary}")
    spark.stop()

    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  private def fmt(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString
}
