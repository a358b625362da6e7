package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One named number with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Runs one workload in one Spark session at `local[N]`, checks every
  * output, and prints the result as one JSON line last. Exit code 1 when
  * any check failed, 2 on bad arguments. */
object Main {
  /** Tables built per run; setup_s reports their median. */
  val SetupBuilds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val shape = scala.util.Try(Shape.byName(opt("workload"))).recover { case e =>
      System.err.println(e.getMessage); sys.exit(2) }.get
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val base = new File(opt("work"))
    val workDir = new File(base, s"${shape.name}-${ProcessHandle.current().pid()}")

    val nproc = Runtime.getRuntime.availableProcessors()
    // one core stays free for the driver, JIT and GC threads
    val cores = math.max(1, math.min(4, nproc - 1))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val heapMax = Runtime.getRuntime.maxMemory()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${shape.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val scenario = new Scenario(spark, shape, seed, tracer, cores, workDir)
    var exit = 0
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      // warm-up: one short round on a small copy of the workload, so
      // class loading and code generation are paid before anything is
      // timed
      val warmS = {
        val w0 = System.nanoTime()
        val warm = new Scenario(spark, Warmup.of(shape), seed, new Tracer(spark, false), cores,
          new File(workDir, "warmup"))
        warm.setup(1)
        warm.runRounds(0L)
        warm.cleanup()
        (System.nanoTime() - w0) / 1e9
      }
      val builds = scenario.setup(SetupBuilds)
      val setupS = sessionS + warmS + Stats.median(builds)

      val gc0 = gcMillis()
      val m0 = System.nanoTime()
      scenario.runRounds(m0 + (seconds * 1e9).toLong)
      val measuredS = (System.nanoTime() - m0) / 1e9
      val gcS = (gcMillis() - gc0) / 1000.0

      val e2e = EndToEnd.metrics(scenario, setupS)
      val heap = Metric("heap_retained_mb", retainedHeapMb(), "MB")
      val endToEnd = e2e :+ heap
      val perLayer =
        if (traced) Layers.metrics(scenario, tracer, cores, gcS) else Nil
      if (traced) writeTrace(base, shape.name, seed, tracer, endToEnd)

      val failed = scenario.failures.size.toLong
      val attempted = math.max(1L, scenario.attempted)
      scenario.failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: ${f.what}"))
      val loadEnd = os.getSystemLoadAverage
      val info = Seq(
        "workload" -> Json.str(shape.name), "seed" -> seed.toString,
        "trace" -> (if (traced) "1" else "0"),
        "cores" -> cores.toString, "nproc" -> nproc.toString,
        "heap_max_mb" -> (heapMax / (1 << 20)).toString,
        "load1m_start" -> Json.num(loadStart), "load1m_end" -> Json.num(loadEnd),
        "commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
        "rounds" -> scenario.rounds.toString, "measured_s" -> Json.num(measuredS),
        "setup_builds_s" -> builds.map(Json.num).mkString("[", ",", "]"),
        "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
        "append_tail" -> tailLabel(scenario.appendS),
        "range_read_tail" -> tailLabel(scenario.readS),
        "samples" -> Json.obj(Seq(
          "append" -> scenario.appendS.size.toString, "delete" -> scenario.deleteS.size.toString,
          "range_read" -> scenario.readS.size.toString, "cold_read" -> scenario.coldS.size.toString,
          "maint_cycle" -> scenario.maintS.size.toString,
          "strict_rewrite" -> scenario.strictS.size.toString)),
        "ops_failed_ratio" -> Json.num(failed.toDouble / attempted))
      println(s"[perfbench] ${Json.obj(info)}")
      val shown = if (traced) perLayer else endToEnd
      shown.foreach { m =>
        println(f"[perfbench] ${m.name}%-30s ${Json.num(m.value)}%16s ${m.unit}")
      }
      println(f"[perfbench] ${"ops_failed_ratio"}%-30s ${Json.num(failed.toDouble / attempted)}%16s ratio")
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(shown.map(m =>
          m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
      if (failed > 0) exit = 1
    } finally {
      scenario.cleanup()
      spark.stop()
    }
    sys.exit(exit)
  }

  private def tailLabel(xs: Samples): String =
    if (xs.size == 0) "null" else Json.str(Stats.tail(xs.firstRound).label + " per round")

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after full collections, MB. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Spans as JSON lines, plus the traced run's end-to-end numbers and
    * their overhead against the latest untraced run of the same workload
    * and seed. */
  private def writeTrace(base: File, workload: String, seed: Long, tracer: Tracer,
      traced: Seq[Metric]): Unit = {
    val dir = new File(base, "traces")
    dir.mkdirs()
    val work = tracer.attribute()
    val spans = new PrintWriter(new File(dir, s"$workload-seed$seed.spans.jsonl"))
    try tracer.spans.foreach { s =>
      val w = work.get(s.id)
      spans.println(Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "op" -> s.op.toString, "start_us" -> s.start.toString, "end_us" -> s.end.toString,
        "self_us" -> tracer.selfTimeUs(s).toString,
        "jobs" -> w.map(_.jobs.size).getOrElse(0).toString,
        "tasks" -> w.map(_.tasks.size).getOrElse(0).toString)))
    } finally spans.close()
    val untraced = new File(base, s"results/$workload-seed$seed-trace0.json")
    val before = if (untraced.exists()) Json.metricsOf(
      new String(java.nio.file.Files.readAllBytes(untraced.toPath), "UTF-8")) else Map.empty[String, Double]
    val overhead = traced.flatMap(m => before.get(m.name).map(b => m.name -> Json.num(m.value - b)))
    val report = new PrintWriter(new File(dir, s"$workload-seed$seed.report.json"))
    try report.println(Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "spans" -> tracer.spans.size.toString,
      "nesting_violations" -> tracer.nestingViolations.toString,
      "traced" -> Json.obj(traced.map(m => m.name -> Json.num(m.value))),
      "overhead_vs_untraced" -> (if (before.isEmpty) "null" else Json.obj(overhead)))))
    finally report.close()
    println(s"[perfbench] trace: ${tracer.spans.size} spans, " +
      s"${tracer.nestingViolations} nesting violations, overhead vs untraced: " +
      (if (before.isEmpty) "no untraced run of this seed to compare" else Json.obj(overhead)))
    if (tracer.nestingViolations > 0) sys.error("a child span extends past its parent")
  }
}

/** The small table each workload warms up on. */
object Warmup {
  def of(s: Shape): Shape = s.copy(baseRows = 4000, bulkFiles = 4,
    buildAppends = math.min(s.buildAppends, 1), stepsPerRound = 2, readsPerStep = 1,
    deleteEvery = 2, coldEvery = 2, readsAfterMaintenance = 1, strictRepeats = 1)
}

/** The end-to-end metrics every workload reports. */
object EndToEnd {
  def metrics(s: Scenario, setupS: Double): Seq[Metric] = {
    def med(xs: Samples) = xs.perRound(Stats.median)
    def tail(xs: Samples) = xs.perRound(Stats.tail(_).value)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("append_p50_s", med(s.appendS), "s"),
      Metric("append_tail_s", tail(s.appendS), "s"),
      Metric("delete_p50_s", med(s.deleteS), "s"),
      Metric("range_read_p50_s", med(s.readS), "s"),
      Metric("range_read_tail_s", tail(s.readS), "s"),
      Metric("cold_read_s", med(s.coldS), "s"),
      Metric("maint_cycle_s", med(s.maintS), "s"),
      Metric("strict_rewrite_s", med(s.strictS), "s"),
      Metric("write_amp", med(s.writeAmp), "ratio"),
      Metric("files_after_maint", med(s.filesAfter), "count"))
  }
}

/** Per-layer metrics from a traced run's spans. */
object Layers {
  def metrics(s: Scenario, tracer: Tracer, cores: Int, gcS: Double): Seq[Metric] = {
    val work = tracer.attribute()
    val empty = new SpanWork
    def spans(name: String) = tracer.spans.filter(_.name == name).toSeq
    def w(sp: Span) = work.getOrElse(sp.id, empty)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def dur(sp: Span) = (sp.end - sp.start) / 1e6
    def jobsS(sp: Span) = Stats.coveredWithin(sp.start, sp.end, w(sp).jobIntervals) / 1e6
    def byName(name: String)(f: Span => Double) = med(spans(name).map(f))
    // jobs per call, the time they cover and the rest of the call's wall
    def callGroup(prefix: String, name: String) = Seq(
      Metric(s"${prefix}jobs", byName(name)(w(_).jobs.size.toDouble), "count"),
      Metric(s"${prefix}jobs_s", byName(name)(jobsS), "s"),
      Metric(s"${prefix}driver_s", byName(name)(sp => dur(sp) - jobsS(sp)), "s"))

    val ckpt = s.appendS.all.zip(s.appendCkpt)
    val readSpans = spans("range_read")
    val rowsRead = s.readRows.map(_._2).sum
    val engineOps = Set("append", "range_read", "delete", "cold_read", "maint_cycle",
      "strict_rewrite", "query_pass", "ingest_batch")
    val opSpans = tracer.spans.filter(sp => engineOps(sp.name)).toSeq
    // work of the engine calls and everything under them
    val underOps = {
      val opIds = opSpans.map(_.id).toSet
      val parentOf = tracer.spans.map(sp => sp.id -> sp.parent).toMap
      def underOp(id: Int): Boolean = id != 0 && (opIds(id) || underOp(parentOf.getOrElse(id, 0)))
      work.collect { case (id, sw) if underOp(id) => sw }.toSeq
    }
    val opWallS = opSpans.map(dur).sum
    val rounds = math.max(1, s.rounds)

    // graft.queries: per pass, summed over the pass's queries
    val passes = spans("query_pass")
    def perPass(f: Span => Double) = med(passes.map(p =>
      tracer.spans.filter(c => c.parent == p.id && c.name == "query").map(f).sum))
    val ingest = "ingest_batch"

    Seq(
      Metric("sorter.validate_quick_s", byName("validate_quick")(dur), "s"),
      Metric("sorter.validate_s", byName("validate")(dur), "s"),
      Metric("sorter.validate_read_bytes", byName("validate")(w(_).inputBytes.toDouble), "bytes"),
      Metric("sorter.plan_s", byName("plan")(dur), "s"),
      Metric("sorter.plan_read_bytes", byName("plan")(w(_).inputBytes.toDouble), "bytes"),
      Metric("sorter.plan_precision", med(s.planPrecision.toSeq), "ratio"),
      Metric("sorter.compact_s", byName("compact")(dur), "s"),
      Metric("sorter.compact_jobs", byName("compact")(w(_).jobs.size.toDouble), "count"),
      Metric("sorter.compact_shuffle_bytes", byName("compact")(w(_).shuffleBytes.toDouble), "bytes"),
      Metric("sorter.compact_spill_bytes", byName("compact")(w(_).spillBytes.toDouble), "bytes"),
      Metric("sorter.compact_skew", med(s.compactSkew.toSeq), "ratio"),
      Metric("sorter.strict_s", byName("compact_strict")(dur), "s"),
      Metric("sorter.strict_jobs", byName("compact_strict")(w(_).jobs.size.toDouble), "count")) ++
    callGroup("delta.append_", "append") ++ Seq(
      Metric("delta.append_ckpt_s", med(ckpt.collect { case (t, true) => t }.toSeq), "s"),
      Metric("delta.append_plain_s", med(ckpt.collect { case (t, false) => t }.toSeq), "s")) ++
    callGroup("delta.delete_", "delete") ++ Seq(
      Metric("delta.delete_read_bytes", byName("delete")(w(_).inputBytes.toDouble), "bytes")) ++
    callGroup("read.", "range_read") ++ Seq(
      Metric("skipping.files_kept_ratio", med(s.keptRatio.toSeq), "ratio"),
      Metric("skipping.precision", med(s.skipPrecision.toSeq), "ratio"),
      Metric("read.rows_scanned_per_row",
        if (rowsRead > 0) readSpans.map(w(_).inputRecords).sum.toDouble / rowsRead else 0.0, "ratio"),
      Metric("read.dv_files_kept", med(s.dvFilesKept.toSeq), "count")) ++
    callGroup("read.cold_", "cold_read") ++ Seq(
      Metric("spark.core_util", if (opWallS > 0)
        Stats.coreUtil(underOps.map(_.taskRunUs).sum / 1e6, opWallS, cores) else 0.0, "ratio"),
      Metric("spark.task_wait_s", underOps.flatMap(_.stageWaits).sum / 1e6 / rounds, "s/round"),
      Metric("spark.gc_s", gcS / rounds, "s/round"),
      Metric("queries.analysis_s", perPass(w(_).phaseUs("analysis") / 1e6), "s"),
      Metric("queries.optimization_s", perPass(w(_).phaseUs("optimization") / 1e6), "s"),
      Metric("queries.planning_s", perPass(w(_).phaseUs("planning") / 1e6), "s"),
      Metric("queries.jobs", perPass(w(_).jobs.size.toDouble), "count"),
      Metric("queries.tasks", perPass(w(_).tasks.size.toDouble), "count"),
      Metric("queries.jobs_s", perPass(jobsS), "s"),
      Metric("queries.driver_s", perPass(sp => dur(sp) - jobsS(sp)), "s"),
      Metric("queries.shuffle_bytes", perPass(w(_).shuffleBytes.toDouble), "bytes"),
      Metric("queries.spill_bytes", perPass(w(_).spillBytes.toDouble), "bytes"),
      Metric("queries.gc_s", perPass(w(_).gcMs / 1e3), "s")) ++
    callGroup("pipeline.ingest_", ingest) :+
      Metric("pipeline.ingest_commits", med(s.ingestCommits.toSeq), "count")
  }
}

/** Just enough JSON for flat result objects. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).stripTrailingZeros().toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** `name -> value` of a result line's metrics object. */
  def metricsOf(line: String): Map[String, Double] = {
    val m = """"([A-Za-z0-9_.\-]+)": \{"value": ([-0-9.eE]+)""".r
    m.findAllMatchIn(line).map(x => x.group(1) -> x.group(2).toDouble).toMap
  }
}
