// Benchmark harness: drives the engine only through its public entry points
// (SparkEntry.queries and the ops / pipeline / sources functions) in a
// single-process closed loop and writes one JSON result file. The package sits
// under org.apache.spark only to drain the listener bus between operations.
package org.apache.spark.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.Flags
import graft.ops.{AggOps, CleanOps, LogicOps}
import graft.pipeline.{MergePipeline, QaqcPipeline}
import graft.sources.{ZarrSink, ZarrSource}

/** Order-independent fingerprint of a result: row count plus the sum of a
  * per-row xxhash64 over the column names and every column (sorted by name, values brought
  * to one canonical type per kind so that equal results from different engines
  * or storage formats hash equal). Computing it evaluates every output column. */
final case class Fp(rows: Long, hash: java.math.BigDecimal) {
  override def toString: String = s"$rows:$hash"
}

object Fp {
  private def canon(c: Column, dt: DataType): Column = dt match {
    case _: NumericType => c.cast(DoubleType) + lit(0.0) // also folds -0.0 into 0.0
    case BooleanType => c.cast(IntegerType).cast(DoubleType)
    case DateType => c.cast(StringType)
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) => struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _: MapType => canon(map_entries(c), ArrayType(dt.asInstanceOf[MapType].keyType))
    case _ => c
  }

  def of(df: DataFrame): Fp = {
    val fields = df.schema.fields.sortBy(_.name)
    val cols = lit(fields.map(_.name).mkString(",")) +:
      fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toIndexedSeq
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    Fp(r.getLong(0), r.getDecimal(1))
  }
}

/** Per-layer counters fed by a SparkListener and a QueryExecutionListener that
  * the benchmark registers on its own session. Read only after a bus drain. */
final class Layers extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    add("task_wall_s", e.taskInfo.duration / 1e3)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def phase(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add("analysis_s", phase("analysis"))
    add("optimizer_s", phase("optimization"))
    add("planning_s", phase("planning"))
    // the final plan, plus the plan of each cached relation the first time an
    // action reads it (that is when the relation's plan runs)
    def plans(p: SparkPlan): Seq[SparkPlan] = p +: collectWithSubqueries(p) {
      case i: InMemoryTableScanExec if cachedSeen.add(System.identityHashCode(i.relation.cacheBuilder)) =>
        i.relation.cachedPlan
    }.flatMap(plans)
    plans(qe.executedPlan).foreach { plan =>
      add("exchanges", collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size)
      add("broadcasts", collectWithSubqueries(plan) { case e: BroadcastExchangeLike => e }.size)
      add("sorts", collectWithSubqueries(plan) { case e: SortExec => e }.size)
      add("windows", collectWithSubqueries(plan) { case e: WindowExec => e }.size)
    }
  }
  private val cachedSeen = mutable.Set.empty[Int]
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Double] = synchronized(c.toMap)

  /** Wall ms of [t0, t1] covered by no job. */
  def outsideJobsMs(t0: Long, t1: Long): Long = synchronized {
    val spans = jobSpans.map { case (a, b) => (a max t0, b min t1) }.filter(s => s._2 > s._1).sortBy(_._1)
    var covered = 0L; var end = t0
    spans.foreach { case (a, b) =>
      if (b > end) { covered += b - (a max end); end = b }
    }
    (t1 - t0) - covered
  }
}

object Bench {
  // ---- one session definition (the Bench/Verify config: ANSI off, AQE on)
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.expr.GraftExtensions",
    "spark.ui.enabled" -> "false")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    sessionConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }

  val catalogTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // ---- metric names, per mode (run.py checks them against BENCHMARK.json)
  // Timed figures are the JVM's CPU seconds (all threads), which the
  // hypervisor's steal on a shared host does not inflate the way it inflates
  // wall time; the wall figures go to the result record.
  val endToEnd: Seq[(String, String)] = Seq("rows_per_cpu_s" -> "1/s", "op_p50_cpu_s" -> "s",
    "first_pass_cpu_s" -> "s", "setup_s" -> "s")
  val modules: Seq[String] = Seq("text", "dedup", "ann", "multimodal", "graph", "ops")
  val stationSpans: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "ops.clean_s" -> "s", "pipeline.qaqc_s" -> "s",
    "pipeline.qaqc_rows_flagged" -> "count", "pipeline.merge_s" -> "s",
    "pipeline.merge_rows_out" -> "count", "sources.publish_s" -> "s",
    "sources.publish_files" -> "count", "sources.publish_bytes" -> "bytes",
    "sources.publish_bytes_per_row" -> "bytes/row", "sources.readback_s" -> "s")
  val perLayer: Seq[(String, String)] = Seq(
    "spark.driver.construct_s" -> "s", "spark.driver.analysis_s" -> "s",
    "spark.driver.optimizer_s" -> "s", "spark.driver.planning_s" -> "s",
    "spark.driver.codegen_compile_s" -> "s", "spark.driver.outside_jobs_s" -> "s",
    "spark.scheduler.jobs" -> "count", "spark.scheduler.jobs_before_action" -> "count",
    "spark.scheduler.stages" -> "count", "spark.scheduler.tasks" -> "count",
    "spark.scheduler.core_idle_frac" -> "fraction",
    "spark.executor.task_run_s" -> "s", "spark.executor.task_cpu_s" -> "s",
    "spark.executor.gc_s" -> "s", "spark.executor.input_bytes" -> "bytes",
    "spark.executor.shuffle_write_bytes" -> "bytes", "spark.executor.shuffle_read_bytes" -> "bytes",
    "spark.executor.spill_bytes" -> "bytes",
    "spark.plan.exchanges" -> "count", "spark.plan.sorts" -> "count",
    "spark.plan.windows" -> "count", "spark.plan.broadcasts" -> "count",
    "spark.cache.pins_left" -> "count", "spark.cache.stored_bytes_peak" -> "bytes",
    "jvm.peak_rss_mb" -> "MB") ++
    stationSpans ++
    modules.flatMap(m => Seq(s"$m.wall_s" -> "s", s"$m.task_cpu_s" -> "s")) :+
    ("trace.overhead_frac" -> "fraction")

  // ---- operations
  /** One timed operation. `run(traced, spans)` returns the output fingerprint;
    * a traced run records its spans and counts into `spans`. */
  final case class Op(name: String, module: String,
                      run: (Boolean, mutable.Map[String, Double]) => Fp)

  /** A catalog query; `jobsNow` drains the listener bus and returns the job
    * count, so that the jobs run while the DataFrame is built (eager pins,
    * driver collects) are told apart from the final action's. */
  def queryOp(spark: SparkSession, dir: String, name: String, module: String,
              jobsNow: () => Double): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, module, (traced, spans) => {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      if (traced) {
        spans("construct_s") = (System.nanoTime() - t0) / 1e9
        spans("jobs_at_action") = jobsNow()
      }
      Fp.of(df)
    })
  }

  // station pipeline: clean -> QA/QC -> merge -> publish -> read back
  val vars: Seq[String] = Seq("tas", "tdps", "ps", "pr", "sfcWind", "sfcWind_dir")

  def qaqc(df: DataFrame): DataFrame = {
    val withFlags = vars.foldLeft(df)((d, v) => d.withColumn(s"${v}_eraqc", lit(null).cast("int")))
    val stages = QaqcPipeline.singleVariable("station", "time", "tas", 183.2, 329.9) ++ Seq(
      QaqcPipeline.Stage("pr_negative", Seq(Flags.NegativePrecip),
        d => LogicOps.flagNegative(d, "pr", "pr_eraqc")),
      QaqcPipeline.Stage("supersaturation", Seq(Flags.Supersaturation),
        d => LogicOps.flagSupersaturation(d, "tdps", "tas", "tdps_eraqc", col("tas_eraqc"))),
      QaqcPipeline.Stage("calm_wind_dir", Seq(Flags.CalmWindBadDir, Flags.CalmWindZeroDir),
        d => LogicOps.flagCalmWindDir(d, "sfcWind", "sfcWind_dir", "sfcWind_dir_eraqc",
          col("sfcWind_eraqc"))),
      QaqcPipeline.Stage("frequent_values", Seq(Flags.FrequentValue), d =>
        AggOps.flagFrequentValues(d, Seq("station"), "time", "tas", origin = 0.0, width = 0.1)
          .withColumn("tas_eraqc", when(col("frequent_value") && CleanOps.validObs(col("tas_eraqc")),
            lit(Flags.FrequentValue)).otherwise(col("tas_eraqc")))
          .drop("frequent_value")))
    QaqcPipeline.run(withFlags, stages)
  }

  def merge(df: DataFrame): DataFrame =
    MergePipeline.run(df.drop("seq"), Seq("station"), "time",
      instantCols = Seq("tas", "tdps", "ps", "sfcWind", "sfcWind_dir", "hurs_derived"),
      sumCols = Seq("pr"), flagCols = vars.map(_ + "_eraqc") :+ "hurs_derived_eraqc",
      constCols = Seq("elevation"), tiebreak = col("time"),
      keepSubstrings = vars :+ "hurs" :+ "elevation", dropSubstrings = Seq.empty)
      .withColumnRenamed("hour_ts", "time")

  def storePaths(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.toString).filter(_.endsWith(".zarr")).toSeq.sorted

  def treeSize(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** The last published store directory and, from a traced run, the
    * fingerprint of the (materialised) frame that was written to it. */
  final class Published { var dir: String = _; var written: Option[Fp] = None }

  def stationOp(spark: SparkSession, dir: String, work: String, last: Published): Op =
    Op("station_pipeline", "pipeline", (traced, spans) => {
      if (last.dir != null) deleteTree(Paths.get(last.dir))
      val out = s"$work/publish/${System.nanoTime()}"
      def span[T](k: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        if (traced) spans(k) = spans.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e9
        r
      }
      def put(k: String, v: Double): Unit = if (traced) spans(k) = spans.getOrElse(k, 0.0) + v
      // boundaries are materialised only when traced, so the untraced run stays one plan
      def pin(df: DataFrame): DataFrame =
        if (traced) { val p = df.persist(); p.count(); p } else df
      val raw = span("sources.read_s")(pin(spark.read.parquet(s"$dir/stations.parquet")))
      val clean = span("ops.clean_s")(pin(cleanedFrom(raw)))
      val flagged = span("pipeline.qaqc_s")(pin(qaqc(clean)))
      if (traced) put("pipeline.qaqc_rows_flagged",
        flagged.filter(vars.map(v => col(s"${v}_eraqc").isNotNull).reduce(_ || _)).count())
      val merged = span("pipeline.merge_s")(pin(merge(flagged)))
      if (traced) { put("pipeline.merge_rows_out", merged.count()); last.written = Some(Fp.of(merged)) }
      span("sources.publish_s")(ZarrSink.writeZarrStores(merged, out).collect())
      last.dir = out
      if (traced) {
        val (files, bytes) = treeSize(out)
        put("sources.publish_files", files)
        put("sources.publish_bytes", bytes)
      }
      span("sources.readback_s")(Fp.of(ZarrSource.readStores(spark, storePaths(out))))
    })

  def cleanedFrom(raw: DataFrame): DataFrame = {
    val c = CleanOps.nullSentinels(raw, Map("tas" -> Seq(-999.0), "tdps" -> Seq(-999.0)))
    CleanOps.dedupKeepFirst(
      CleanOps.timeBounds(c, "time", "2021-01-01 00:00:00", "2022-01-01 00:00:00"),
      Seq("station", "time"), Seq(col("seq")))
  }

  // ---- measurement
  final case class Sample(name: String, module: String, pass: Int, traced: Boolean,
                          wallS: Double, cpuS: Double, fp: Fp, error: String, layers: Map[String, Double],
                          spans: Map[String, Double])

  def clearCaches(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    val pins = sc.getPersistentRDDs.size
    val stored = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (pins, stored)
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1); val lo = r.floor.toInt; val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case ch if ch < ' ' => " "; case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def args2map(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = args2map(args)
    a("mode") match {
      case "names" =>
        val lines = Seq("end_to_end " + endToEnd.map(_._1).mkString(" "),
          "per_layer " + perLayer.map(_._1).mkString(" "))
        Files.write(Paths.get(a("out")), lines.mkString("\n").getBytes(UTF_8))
      case "oracles" =>
        Files.write(Paths.get(a("out")), json(SparkEntry.oracleSql).getBytes(UTF_8))
      case "selftest" => SelfTest.run(a("work"), a("cores").toInt)
      case "run" => run(a)
    }
  }

  def run(a: Map[String, String]): Unit = {
    val workload = a("workload"); val dir = a("data"); val work = a("work")
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val queries = a.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    Files.createDirectories(Paths.get(work))

    // set-up: session bring-up + input footers + a warm-up job, several times
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 4) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("WARN")
      if (workload == "station_pipeline") spark.read.parquet(s"$dir/stations.parquet").schema
      else catalogTables.foreach(t => SparkEntry.loadTable(spark, dir, t).schema)
      spark.range(1000).selectExpr("sum(id)").collect()
      setups += (System.nanoTime() - t0) / 1e9
    }

    val layers = new Layers
    def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
    val published = new Published
    val ops: Seq[Op] =
      if (workload == "station_pipeline") Seq(stationOp(spark, dir, work, published))
      else queries.map { q =>
        val Array(name, module) = (q + ":-").split(":").take(2)
        queryOp(spark, dir, name, module, () => { drain(); layers.snapshot.getOrElse("jobs", 0.0) })
      }

    val samples = mutable.ArrayBuffer.empty[Sample]
    var pins = 0.0; var storedPeak = 0.0

    def runOp(op: Op, pass: Int, traced: Boolean): Sample = {
      val spans = mutable.Map.empty[String, Double]
      if (traced) drain()
      val before = if (traced) layers.snapshot else Map.empty[String, Double]
      val cg0 = CodeGenerator.compileTime
      val t0ms = System.currentTimeMillis(); val t0 = System.nanoTime(); val c0 = processCpuS()
      val (fp, err) =
        try (op.run(traced, spans), null)
        catch { case e: Throwable => (null, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuS() - c0
      val t1ms = System.currentTimeMillis()
      val lay: Map[String, Double] = if (traced) {
        drain()
        val after = layers.snapshot
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        delta ++ Map(
          "construct_s" -> spans.getOrElse("construct_s", 0.0),
          "jobs_before_action" -> spans.get("jobs_at_action").map(_ - before.getOrElse("jobs", 0.0)).getOrElse(0.0),
          "codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
          "outside_jobs_s" -> layers.outsideJobsMs(t0ms, t1ms) / 1e3)
      } else Map.empty
      val (p, s) = clearCaches(spark)
      if (traced) { pins += p; storedPeak = storedPeak max s.toDouble }
      Sample(op.name, op.module, pass, traced, wall, cpu, fp, err, lay ++
        (if (traced) Map("pins_left" -> p.toDouble, "stored_bytes" -> s.toDouble) else Map.empty),
        spans.toMap)
    }

    def runPass(pass: Int, traced: Boolean): Double = {
      val t0 = System.nanoTime()
      ops.foreach(op => samples += runOp(op, pass, traced))
      (System.nanoTime() - t0) / 1e9
    }

    // closed loop: whole passes until the measuring time is spent
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWarm = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    if (!trace) {
      while (pass == 0 || elapsed < seconds) { pass += 1; passWalls += runPass(pass, traced = false) }
    } else {
      // cold pass, then traced / untraced warm passes in turn; the traced
      // passes give the layer numbers, each pair the tracing overhead (an upper
      // bound: the untraced pass of a pair runs the warmer of the two)
      pass += 1; passWalls += runPass(pass, traced = false)
      while (tracedWalls.isEmpty || elapsed < seconds) {
        spark.sparkContext.addSparkListener(layers)
        spark.listenerManager.register(layers)
        pass += 1; tracedWalls += runPass(pass, traced = true)
        spark.sparkContext.removeSparkListener(layers)
        spark.listenerManager.unregister(layers)
        pass += 1; untracedWarm += runPass(pass, traced = false)
      }
    }
    val measuredWall = elapsed
    val rss = peakRssMb()

    // ---- output checks (untimed): the same operation must give the same
    // fingerprint on every pass, and the one expected from Checks
    val tCheck = System.nanoTime()
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstFp = samples.groupBy(_.name).map { case (n, ss) => n -> ss.head.fp }
    val stable = samples.filter(s => s.error == null && s.fp != firstFp(s.name))
    stable.foreach(s => checks += Map("op" -> s.name, "ok" -> false, "why" -> s"pass ${s.pass} fingerprint ${s.fp} != ${firstFp(s.name)}"))
    val expected: Map[String, Either[Fp, String]] =
      if (workload == "station_pipeline") Map(workload -> Right(Checks.station(spark, dir, published)))
      else a.get("oracle").map(o => Checks.oracle(spark, o, firstFp.keySet.toSeq)).getOrElse(Map.empty)
    firstFp.toSeq.sortBy(_._1).foreach { case (n, fp) =>
      val (ok, why) = expected.get(n) match {
        case _ if fp == null => (false, "operation failed")
        case Some(Left(exp)) => (exp == fp, s"engine $fp vs expected $exp")
        case Some(Right(msg)) => (msg.isEmpty, if (msg.isEmpty) s"engine $fp" else msg)
        case None => (fp.rows > 0, s"no oracle: engine $fp, stable across passes, rows > 0")
      }
      checks += Map("op" -> n, "ok" -> ok, "why" -> why)
    }
    val badOps = checks.filter(_("ok") == false).map(_("op").toString).toSet
    val failed = samples.count(s => s.error != null || badOps.contains(s.name))
    val checkS = (System.nanoTime() - tCheck) / 1e9

    // ---- metrics
    val untraced = samples.filterNot(_.traced)
    val warm = untraced.filter(_.pass > 1)
    val opSamples = if (warm.isEmpty) untraced else warm
    val opWalls = opSamples.map(_.wallS).toSeq
    val passCpu = untraced.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.cpuS).sum)
    val rows = a("rows").toDouble
    val nPasses = passWalls.size
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    metrics("setup_s") = median(setups.toSeq)
    metrics("first_pass_cpu_s") = passCpu.head
    metrics("op_p50_cpu_s") = median(opSamples.map(_.cpuS).toSeq)
    metrics("rows_per_cpu_s") = rows * passCpu.size / passCpu.sum
    val wallMetrics = Map("first_pass_s" -> passWalls.head, "op_p50_s" -> median(opWalls),
      "op_p90_s" -> percentile(opWalls, 0.9), "rows_per_s" -> rows * nPasses / passWalls.sum)
    if (trace) {
      val t = samples.filter(_.traced)
      val nT = tracedWalls.size.toDouble
      def tot(k: String): Double = t.map(_.layers.getOrElse(k, 0.0)).sum / nT
      val wall = tracedWalls.sum
      Seq("construct_s", "analysis_s", "optimizer_s", "planning_s", "codegen_compile_s", "outside_jobs_s")
        .foreach(k => metrics(s"spark.driver.$k") = tot(k))
      Seq("jobs", "jobs_before_action", "stages", "tasks").foreach(k => metrics(s"spark.scheduler.$k") = tot(k))
      metrics("spark.scheduler.core_idle_frac") = 1.0 - t.map(_.layers.getOrElse("task_wall_s", 0.0)).sum / (wall * cores)
      Seq("task_run_s", "task_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
        .foreach(k => metrics(s"spark.executor.$k") = tot(k))
      Seq("exchanges", "sorts", "windows", "broadcasts").foreach(k => metrics(s"spark.plan.$k") = tot(k))
      metrics("spark.cache.pins_left") = tot("pins_left")
      metrics("spark.cache.stored_bytes_peak") = storedPeak
      metrics("jvm.peak_rss_mb") = rss
      stationSpans.foreach { case (k, _) => metrics(k) = t.map(_.spans.getOrElse(k, 0.0)).sum / nT }
      val rowsOut = metrics("pipeline.merge_rows_out")
      metrics("sources.publish_bytes_per_row") = if (rowsOut > 0) metrics("sources.publish_bytes") / rowsOut else 0.0
      modules.foreach { m =>
        val ms = t.filter(_.module == m)
        metrics(s"$m.wall_s") = ms.map(_.wallS).sum / nT
        metrics(s"$m.task_cpu_s") = ms.map(_.layers.getOrElse("task_cpu_s", 0.0)).sum / nT
      }
      metrics("trace.overhead_frac") = tracedWalls.sum / untracedWarm.sum - 1.0
    }

    val sc = spark.sparkContext
    val env = Map(
      "host" -> java.net.InetAddress.getLocalHost.getHostName,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> cores,
      "mem_total_mb" -> Files.readAllLines(Paths.get("/proc/meminfo")).asScala.head.split("\\s+")(1).toDouble / 1024,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark" -> spark.version,
      "session_conf" -> (sessionConf.toMap ++ Map(
        "spark.master" -> sc.master, "spark.sql.shuffle.partitions" -> cores.toString)))
    val perOp = samples.map(s => Map("op" -> s.name, "module" -> s.module, "pass" -> s.pass,
      "traced" -> s.traced, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS, "fingerprint" -> String.valueOf(s.fp),
      "error" -> s.error, "layers" -> s.layers, "spans" -> s.spans))
    val result = Map(
      "workload" -> workload, "trace" -> trace, "seconds" -> seconds,
      "measured_wall_s" -> measuredWall, "passes" -> nPasses, "pass_walls_s" -> passWalls.toSeq,
      "traced_pass_walls_s" -> tracedWalls.toSeq, "untraced_warm_pass_walls_s" -> untracedWarm.toSeq,
      "setups_s" -> setups.toSeq, "check_s" -> checkS, "op_samples" -> opWalls.size,
      "wall" -> wallMetrics, "peak_rss_mb" -> rss,
      "attempted" -> samples.size, "failed" -> failed, "checks" -> checks.toSeq,
      "metrics" -> metrics.toMap, "env" -> env, "per_op" -> perOp.toSeq)
    Files.write(Paths.get(a("out")), json(result).getBytes(UTF_8))
    spark.stop()
  }
}
