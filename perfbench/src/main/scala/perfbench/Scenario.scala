package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta.{DeltaLog, DeltaTable}
import graft.sorter.{DeltaSorter, SortConfig}

/** The shape of one workload's table and stream. Both workloads run
  * the same closed loop; the shape is what differs. */
final case class Shape(
    name: String,
    /** Partition the table by ship year. */
    partitioned: Boolean,
    /** The key the table is kept ordered by. */
    sortKey: Seq[String],
    /** Rows in the table at the start of every round (sf0.1 = 600k). */
    baseRows: Int,
    /** Data files the bulk commit writes. */
    bulkFiles: Int,
    /** Whether the bulk commit is written in sort-key order. */
    sortedBulk: Boolean,
    /** Small appends that finish the table, each one file. Their rows
      * are a seeded share of the base rows. */
    buildAppends: Int,
    buildAppendShare: Double,
    /** Write an explicit checkpoint once the table is built. */
    checkpointAfterBuild: Boolean,
    /** Stream appends carry recent keys (latest ship year) or keys
      * spanning the whole range. */
    recentAppends: Boolean,
    stepsPerRound: Int,
    readsPerStep: Int,
    deleteEvery: Int,
    coldEvery: Int,
    readsAfterMaintenance: Int,
    /** Strict rewrites per round; each rewrites the whole table. */
    strictRepeats: Int,
    /** Traced runs also run the query and dedup lanes (see [[Scenario]]). */
    lanes: Boolean = false)

object Shape {
  val all: Seq[Shape] = Seq(
    Shape("compact_small_files", partitioned = false,
      sortKey = Seq("l_shipdate", "l_orderkey", "l_linenumber"), baseRows = 100000,
      bulkFiles = 80, sortedBulk = false, buildAppends = 2, buildAppendShare = 0.2,
      checkpointAfterBuild = false, recentAppends = false, stepsPerRound = 20,
      readsPerStep = 0, deleteEvery = 5, coldEvery = 10, readsAfterMaintenance = 20,
      strictRepeats = 3),
    Shape("ingest_read_mix", partitioned = true,
      sortKey = Seq("l_shipyear", "l_shipdate", "l_orderkey", "l_linenumber"), baseRows = 100000,
      bulkFiles = 150, sortedBulk = true, buildAppends = 0, buildAppendShare = 0.0,
      checkpointAfterBuild = true, recentAppends = true, stepsPerRound = 20,
      readsPerStep = 2, deleteEvery = 10, coldEvery = 20, readsAfterMaintenance = 0,
      strictRepeats = 2, lanes = true))

  def byName(n: String): Shape = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Timings of one kind of call, kept per round so that a statistic is
  * taken over a fixed number of samples however many rounds ran. */
final class Samples {
  private val rounds = ArrayBuffer.empty[ArrayBuffer[Double]]
  def newRound(): Unit = rounds += ArrayBuffer.empty[Double]
  def +=(x: Double): Unit = rounds.last += x
  def all: Seq[Double] = rounds.flatten.toSeq
  def size: Int = rounds.map(_.size).sum
  /** The median over rounds of `f` applied to each round's samples;
    * 0 when there are none. */
  def perRound(f: Seq[Double] => Double): Double = {
    val xs = rounds.filter(_.nonEmpty).map(r => f(r.toSeq)).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  def firstRound: Seq[Double] = rounds.find(_.nonEmpty).map(_.toSeq).getOrElse(Nil)
}

/** A correctness check that failed, with what was expected. */
final case class CheckFailure(what: String)

/** One workload: builds its table, then runs rounds of
  * restore → stream (appends, warm range reads, DV deletes, a fresh
  * reader) → maintenance cycle → strict rewrite → reads, until the
  * deadline. Every call into the engine goes through [[Tracer.call]].
  *
  * Traced runs of a shape with `lanes` also run, once a round, the two
  * lanes that give `graft.queries` and `graft.pipeline` their per-layer
  * numbers: one pass of the query library's `lineitem` queries over a
  * parquet copy of the base rows, in a fresh session, and one
  * `IncrementalDedup.ingest` batch of generated documents. They add no
  * end-to-end metric, so untraced runs skip them. */
final class Scenario(spark: SparkSession, val shape: Shape, seed: Long,
    tracer: Tracer, cores: Int, workDir: File) {
  import Scenario._

  private val rng = new SplittableRandom(seed ^ Gen.mix(shape.name.hashCode.toLong))
  private val cfg = SortConfig(shape.sortKey, concurrency = cores)
  private val tableDir = new File(workDir, "table")
  private val pristineDir = new File(workDir, "pristine")
  private def uri: String = tableDir.getAbsolutePath

  // end-to-end samples (seconds unless named otherwise)
  val appendS, deleteS, readS, coldS, maintS, strictS, writeAmp, filesAfter = new Samples
  private val perRound = Seq(appendS, deleteS, readS, coldS, maintS, strictS, writeAmp, filesAfter)
  val appendCkpt = ArrayBuffer.empty[Boolean]
  // traced-only layer samples
  val planPrecision = ArrayBuffer.empty[Double]
  val compactSkew = ArrayBuffer.empty[Double]
  val keptRatio = ArrayBuffer.empty[Double]
  val skipPrecision = ArrayBuffer.empty[Double]
  val dvFilesKept = ArrayBuffer.empty[Double]
  val readRows = ArrayBuffer.empty[(Int, Long)] // (span id, rows returned)

  // lane samples (traced runs only)
  val ingestCommits = ArrayBuffer.empty[Double]
  private val lanes = tracer.traced && shape.lanes
  private val tablesDir = new File(workDir, "tables")
  private var docsNext = 0L

  var attempted = 0L
  val failures = ArrayBuffer.empty[CheckFailure]
  var rounds = 0

  private var pristineModel: Model = _
  private var pristineFiles: Set[String] = Set.empty
  private var model: Model = _
  private var nextRow = 0L

  /** Build the workload's table into `dir`; returns the model of its rows. */
  def build(dir: File): Model = {
    val u = dir.getAbsolutePath
    val m = new Model(seed)
    val bulkRows = shape.baseRows - (shape.baseRows * shape.buildAppendShare).toInt
    val bulk = Gen.frame(spark, seed, 0, bulkRows, recent = false, cores)
    val laid =
      if (shape.sortedBulk) bulk.repartitionByRange(cores, shape.sortKey.map(col): _*)
        .sortWithinPartitions(shape.sortKey.map(col): _*)
      else bulk.repartition(cores)
    // few tasks, many files: each task cuts its output into files of
    // `rowsPerFile` rows, so a table of hundreds of small files is
    // written without paying a Spark task per file
    val rowsPerFile = math.max(1, bulkRows / shape.bulkFiles)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", rowsPerFile.toLong)
    try DeltaTable.create(spark, laid, u,
      partitionColumns = if (shape.partitioned) Seq("l_shipyear") else Nil)
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    m.add(0, bulkRows, recent = false)
    // the rest arrives as small appends of seeded, shuffled row blocks
    val blocks = (0 until shape.buildAppends).toArray
    shuffle(blocks, new SplittableRandom(seed + 1))
    val per = (shape.baseRows - bulkRows) / math.max(1, shape.buildAppends)
    blocks.foreach { b =>
      val from = bulkRows + b.toLong * per
      val until = if (b == shape.buildAppends - 1) shape.baseRows.toLong else from + per
      DeltaTable.append(spark, u, Gen.frame(spark, seed, from, until, recent = false, 1))
      m.add(from, until, recent = false)
    }
    DeltaTable.enableDeletionVectors(spark, u)
    if (shape.checkpointAfterBuild) DeltaLog.forTable(spark, u).checkpoint()
    DeltaLog.invalidate(u)
    m
  }

  /** Build the table `times` times; keep the last as the pristine copy.
    * Returns each build's seconds. */
  def setup(times: Int): Seq[Double] = {
    val secs = (1 to times).map { t =>
      val dir = new File(workDir, s"build-$t")
      val t0 = System.nanoTime()
      pristineModel = build(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (t < times) deleteTree(dir) else Files.move(dir.toPath, pristineDir.toPath)
      s
    }
    pristineFiles = dataFiles(pristineDir).map(_._1).toSet
    if (lanes) Gen.frame(spark, seed, 0, shape.baseRows, recent = false, cores)
      .write.mode("overwrite").parquet(new File(tablesDir, "lineitem.parquet").getAbsolutePath)
    secs
  }

  private def restore(): Unit = {
    DeltaLog.invalidate(uri)
    deleteTree(tableDir)
    copyTree(pristineDir.toPath, tableDir.toPath)
    DeltaLog.invalidate(uri)
    model = pristineModel.copy()
    nextRow = shape.baseRows.toLong + rounds.toLong * 1000000L
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += CheckFailure(what)

  /** Time one engine call; an exception counts as a failed operation. */
  private def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    try Some(tracer.call(name)(body))
    catch {
      case e: Exception =>
        failures += CheckFailure(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Work the benchmark does for itself (checks, probes): traced as its
    * own span so its jobs are never charged to an engine call. */
  private def bench[T](name: String)(body: => T): T = tracer.call(s"bench.$name")(body)._1

  def runRounds(deadlineNs: Long): Unit = {
    while (rounds == 0 || System.nanoTime() < deadlineNs) {
      round()
      rounds += 1
    }
  }

  private def round(): Unit = {
    perRound.foreach(_.newRound())
    bench("restore")(restore())
    val touchedYears = scala.collection.mutable.Set.empty[Int]
    for (step <- 1 to shape.stepsPerRound) {
      append(touchedYears)
      for (_ <- 1 to shape.readsPerStep) rangeRead()
      if (step % shape.deleteEvery == 0) delete(touchedYears)
      if (step % shape.coldEvery == 0) coldRead()
    }
    maintenance(touchedYears.toSet)
    for (_ <- 1 to shape.readsAfterMaintenance) rangeRead()
    if (lanes) {
      queryPass()
      dedupBatch()
    }
  }

  /** One pass over the query library's `lineitem` queries, each into a
    * noop sink, in a fresh session so no session memo carries over. */
  private def queryPass(): Unit = {
    val session = spark.newSession()
    tracer.watch(session)
    tracer.call("query_pass") {
      LaneQueries.foreach { q =>
        op("query") {
          val df = graft.SparkEntry.queries(q)(session, tablesDir.getAbsolutePath)
          val obs = Observation(s"perfbench.$q")
          df.observe(obs, count(lit(1)).as("rows"),
            sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")).as("hash"))
            .write.format("noop").mode("overwrite").save()
          (obs.get("rows").asInstanceOf[Long],
            Option(obs.get("hash")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
              .getOrElse(BigDecimal(0)))
        }.foreach { case (got, _) => checkRecorded(q, got) }
      }
    }
  }

  /** A query's row count and hash must equal what the first run of the
    * same input recorded (kept under the work directory's parent). */
  private def checkRecorded(q: String, got: (Long, BigDecimal)): Unit = {
    val file = new File(workDir.getParentFile, "results/query-fingerprints.txt")
    val key = s"$seed/${shape.baseRows}/$q"
    val known = if (file.exists()) scala.io.Source.fromFile(file).getLines().toList else Nil
    known.map(_.split(' ')).collectFirst { case Array(`key`, n, h) => (n.toLong, BigDecimal(h)) } match {
      case Some(want) =>
        check(got == want, s"query $q returned ${got._1} rows (hash ${got._2}), " +
          s"recorded ${want._1} (hash ${want._2})")
      case None =>
        file.getParentFile.mkdirs()
        val w = new java.io.FileWriter(file, true)
        try w.write(s"$key ${got._1} ${got._2}\n") finally w.close()
    }
  }

  /** One `IncrementalDedup.ingest` batch into a corpus and index that
    * live for the whole run. */
  private def dedupBatch(): Unit = {
    val corpus = new File(workDir, "corpus").getAbsolutePath
    val index = new File(workDir, "index").getAbsolutePath
    val from = docsNext
    docsNext += DedupBatchRows
    val batch = Gen.documents(spark, seed, from, docsNext)
    val before = logVersions(corpus) + logVersions(index)
    op("ingest_batch")(graft.pipeline.IncrementalDedup.ingest(spark, corpus, index, batch,
      "perfbench", rounds.toLong)).foreach { case (st, _) =>
      check(st.accepted + st.dupOfCorpus + st.dupWithinBatch == st.batchRows,
        s"dedup batch: ${st.accepted} accepted + ${st.dupOfCorpus} corpus duplicates + " +
          s"${st.dupWithinBatch} batch duplicates != ${st.batchRows} rows")
      ingestCommits += (logVersions(corpus) + logVersions(index) - before).toDouble
    }
  }

  private def logVersions(table: String): Int =
    Option(new File(table, "_delta_log").list()).map(_.count(_.endsWith(".json"))).getOrElse(0)

  private def append(touched: scala.collection.mutable.Set[Int]): Unit = {
    val from = nextRow
    val until = from + AppendRows
    nextRow = until
    val df = Gen.frame(spark, seed, from, until, shape.recentAppends, 1)
    op("append")(DeltaTable.append(spark, uri, df)).foreach { case (_, s) =>
      appendS += s
      model.add(from, until, shape.recentAppends)
      touched ++= (from until until by 97).map(i =>
        java.time.LocalDate.ofEpochDay(Gen.shipDay(seed, i, shape.recentAppends).toLong).getYear)
      if (tracer.traced) appendCkpt += wroteCheckpoint()
    }
  }

  /** Whether the latest commit also wrote a checkpoint. */
  private def wroteCheckpoint(): Boolean = {
    val names = Option(new File(tableDir, "_delta_log").list()).getOrElse(Array.empty[String])
    val latest = names.filter(_.endsWith(".json")).flatMap(n =>
      scala.util.Try(n.stripSuffix(".json").toLong).toOption).maxOption
    latest.exists(v => names.exists(_.startsWith(f"$v%020d.checkpoint")))
  }

  private def pickRange(): (Int, Int) = {
    val lo = Gen.FirstOrderDay + rng.nextInt(Gen.LastShipDay - Gen.FirstOrderDay - ReadDays)
    (lo, lo + ReadDays)
  }

  private def predicate(lo: Int, hi: Int): String =
    s"l_shipdate >= ${Gen.dateLit(lo)} AND l_shipdate < ${Gen.dateLit(hi)}"

  /** readWhere into a noop sink; the row count rides an observation. */
  private def readInto(df: DataFrame): Long = {
    val obs = Observation("perfbench.read")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  private def rangeRead(): Unit = {
    val (lo, hi) = pickRange()
    val pred = predicate(lo, hi)
    op("range_read")(readInto(DeltaTable.readWhere(spark, uri, pred))).foreach { case (rows, s) =>
      readS += s
      val want = model.countShip(lo, hi)
      check(rows == want, s"range read [$pred] returned $rows rows, expected $want")
      if (tracer.traced) {
        readRows += ((tracer.spans.last.id, rows))
        if (readS.size % ProbeEvery == 0) probeSkipping(pred)
      }
    }
  }

  private var probeVersion = -1L
  private var activeFiles = 0L
  private var dvFiles: Set[String] = Set.empty

  /** Traced runs only: what data skipping kept for `pred`, and how many
    * of the kept files hold a matching row. */
  private def probeSkipping(pred: String): Unit = bench("probe") {
    val log = DeltaLog.forTable(spark, uri)
    val version = log.fileFreeSnapshot().version
    if (version != probeVersion) {
      val aa = log.activeAdds()
      activeFiles = aa.fileStats._1
      import spark.implicits._
      dvFiles = aa.ds.filter(_.deletionVector.isDefined).map(_.path).collect()
        .map(p => new File(p).getName).toSet
      probeVersion = version
    }
    val df = DeltaTable.readWhere(spark, uri, pred)
    val kept = df.inputFiles.map(p => new File(new java.net.URI(p).getPath).getName).toSet
    if (activeFiles > 0) keptRatio += kept.size.toDouble / activeFiles
    dvFilesKept += kept.count(dvFiles.contains).toDouble
    if (kept.nonEmpty) {
      val matched = df.select(input_file_name().as("f")).distinct().collect().length
      skipPrecision += matched.toDouble / kept.size
    }
  }

  private def delete(touched: scala.collection.mutable.Set[Int]): Unit = {
    // erase a range of the base table's orders: keys the stream's
    // appends have not reached yet would match nothing
    val maxKey = Gen.orderKey(shape.baseRows - 1L)
    val lo = 1L + (rng.nextLong() >>> 1) % math.max(1L, maxKey - DeleteOrders)
    val hi = lo + DeleteOrders
    op("delete")(DeltaTable.delete(spark, uri,
      col("l_orderkey") >= lo && col("l_orderkey") < hi)).foreach { case (_, s) =>
      deleteS += s
      touched ++= model.delete(lo, hi)._2
    }
  }

  private def coldRead(): Unit = {
    val (lo, hi) = pickRange()
    val pred = predicate(lo, hi)
    op("cold_read") {
      DeltaLog.invalidate(uri)
      readInto(DeltaTable.readWhere(spark, uri, pred))
    }.foreach { case (rows, s) =>
      coldS += s
      val want = model.countShip(lo, hi)
      check(rows == want, s"fresh-reader read [$pred] returned $rows rows, expected $want")
    }
  }

  /** Row count and an order-insensitive hash of every row of `df`. */
  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Compare the table with the rows the stream should have left. */
  private def checkTable(when: String, want: (Long, BigDecimal)): Unit = {
    val got = bench("fingerprint")(fingerprint(DeltaTable.read(spark, uri)))
    check(got == want, s"$when: table holds ${got._1} rows (hash ${got._2}), " +
      s"expected ${want._1} (hash ${want._2})")
  }

  private def maintenance(touchedYears: Set[Int]): Unit = {
    val want = bench("expected")(fingerprint(model.expected(spark, cores)))
    val files = dataFiles(tableDir)
    val divisor =
      if (shape.recentAppends) files.filterNot(f => pristineFiles(f._1)).map(_._2).sum
      else files.map(_._2).sum
    val cycle = op("maint_cycle") {
      val sorter = DeltaSorter(spark, uri)
      tracer.call("validate_quick")(sorter.validateQuick(shape.sortKey))
      tracer.call("validate")(sorter.validate(shape.sortKey))
      val plan = tracer.call("plan")(sorter.plan(cfg))._1
      val summary = tracer.call("compact")(sorter.compact(cfg))._1
      val after = tracer.call("validate")(sorter.validate(shape.sortKey))._1
      (plan, summary, after)
    }
    cycle.foreach { case ((plan, summary, after), s) =>
      maintS += s
      check(after.ok, s"validate after compact: ${after.boundaryViolations} violations, " +
        after.detailsSample.take(3).mkString("; "))
      if (divisor > 0) writeAmp += Stats.writeAmp(summary.bytesOut, divisor)
      if (plan.groups.nonEmpty) planPrecision += plan.groups.count { g =>
        g.partition.forall(_.exists { case (k, v) =>
          k == "l_shipyear" && touchedYears.contains(v.toInt) })
      }.toDouble / plan.groups.size
      compactSkew += Stats.skew(summary.perPartition.map(_.durationMs.toDouble))
      filesAfter += bench("files")(DeltaLog.forTable(spark, uri).activeAdds().fileStats._1).toDouble
      checkTable("after compact", want)
    }
    for (_ <- 1 to shape.strictRepeats) {
      val strict = op("strict_rewrite") {
        val sorter = DeltaSorter(spark, uri)
        tracer.call("compact_strict")(sorter.compact(cfg.copy(repartitionBySortKey = true)))
        tracer.call("validate")(sorter.validate(shape.sortKey))._1
      }
      strict.foreach { case (after, s) =>
        strictS += s
        check(after.ok, s"validate after strict rewrite: ${after.boundaryViolations} violations, " +
          after.detailsSample.take(3).mkString("; "))
        checkTable("after strict rewrite", want)
      }
    }
  }

  def cleanup(): Unit = {
    DeltaLog.invalidate(uri)
    deleteTree(workDir)
  }
}

object Scenario {
  /** Rows per stream append. */
  val AppendRows = 1000
  /** Orders (four rows each) one delete erases. */
  val DeleteOrders = 100
  /** Days of `l_shipdate` one range read covers. */
  val ReadDays = 30
  /** The query library's queries that read only `lineitem`. */
  val LaneQueries: Seq[String] = Seq("q_sort_global", "q_minmax_tuple", "q_boundary_violations",
    "q_monotonicity_violations", "q_plan_groups", "q_partition_predicate", "q_zorder_key")
  val DedupBatchRows = 400
  /** Traced runs probe data skipping on every n-th read. */
  val ProbeEvery = 3
  def shuffle(a: Array[Int], r: SplittableRandom): Unit =
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }

  /** (relative path, bytes) of every data file under a table directory. */
  def dataFiles(dir: File): Seq[(String, Long)] = {
    val root = dir.toPath
    if (!dir.exists()) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet") &&
      !root.relativize(p).toString.startsWith("_delta_log"))
      .map(p => (root.relativize(p).toString, Files.size(p))).toList
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    val s = Files.walk(f.toPath)
    try s.iterator().asScala.toList.reverse.foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }
}
