package org.apache.spark.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Expected outputs, computed after the timed loop. */
object Checks {

  /** op name -> fingerprint of its DuckDB oracle result. Operations without
    * an oracle have no entry and are checked only for being non-empty and
    * stable across passes. */
  def oracle(spark: SparkSession, oracleDir: String, ops: Seq[String]): Map[String, Either[Fp, String]] =
    ops.flatMap { n =>
      val p = s"$oracleDir/$n.parquet"
      if (Files.exists(Paths.get(p))) Some(n -> Left(Fp.of(spark.read.parquet(p)))) else None
    }.toMap

  /** The station pipeline's own checks, on the stores the last timed run
    * published: the clean step leaves the expected rows; the stores hold one
    * row per station-hour of the year; every planted fault's hour carries its
    * flag code (a sentinel, code 0, must be gone); and, when a traced run
    * materialised the written frame, the stores read back with its fingerprint. */
  def station(spark: SparkSession, dir: String, last: Bench.Published): String = {
    val info = new String(Files.readAllBytes(Paths.get(s"$dir/stations.json")), "UTF-8")
    def field(k: String): Long = s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(info).get.group(1).toLong
    val problems = Seq.newBuilder[String]
    val clean = Bench.cleanedFrom(spark.read.parquet(s"$dir/stations.parquet")).count()
    if (clean != field("rows_after_clean")) problems += s"clean rows $clean != ${field("rows_after_clean")}"
    val back = graft.sources.ZarrSource.readStores(spark, Bench.storePaths(last.dir)).persist()
    val hours = field("stations") * 8760
    val counts = back.agg(count(lit(1)), count(when(col("tas") <= -999.0 || col("tdps") <= -999.0, 1)))
      .collect()(0)
    if (counts.getLong(0) != hours) problems += s"published rows ${counts.getLong(0)} != $hours station-hours"
    if (counts.getLong(1) > 0) problems += s"${counts.getLong(1)} published values are missing-value sentinels"
    // one row per (station, hour, var): the published value and its flags
    val long = Bench.vars.map(v => back.select(col("station"), col("time"), lit(v).as("var"),
      col(v).as("_v"), col(s"${v}_eraqc").as("_f"))).reduce(_ unionByName _)
    val bad = spark.read.parquet(s"$dir/faults.parquet")
      .withColumn("time", date_trunc("HOUR", col("time"))).distinct()
      .join(long, Seq("station", "time", "var"), "left")
      .filter((col("code") === 0 && col("_v") <= -999.0) ||
        (col("code") =!= 0 && !coalesce(array_contains(split(col("_f"), ","), col("code").cast("string")), lit(false))))
      .persist()
    val nBad = bad.count()
    if (nBad > 0) problems += s"$nBad planted faults without their flag (${bad.limit(3).collect().mkString("; ")})"
    bad.unpersist()
    last.written.foreach { w =>
      val fp = Fp.of(back)
      if (fp != w) problems += s"read-back $fp != written $w"
    }
    back.unpersist()
    problems.result().mkString("; ")
  }
}

/** The benchmark's own tests of its measuring parts; throws on failure. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit = {
    if (!ok) throw new AssertionError(s"selftest failed: $what")
    println(s"ok  $what")
  }

  def run(work: String, cores: Int): Unit = {
    val spark = Bench.session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // 1. the output check rejects a perturbed result, and is storage independent
    val df = spark.range(0, 200, 1, 4).select(col("id"), (col("id") * 1.5).as("x"),
      concat(lit("s"), col("id")).as("s"), array(col("id").cast("int")).as("arr"))
    val fp = Fp.of(df)
    val path = s"$work/selftest.parquet"
    df.write.mode("overwrite").parquet(path)
    check(Fp.of(spark.read.parquet(path)) == fp, "fingerprint survives a parquet round trip")
    check(Fp.of(df.select(col("x"), col("s"), col("arr"), col("id").cast("int").as("id"))) == fp,
      "fingerprint ignores column order and integer width")
    check(Fp.of(df.withColumn("x", when(col("id") === 17, col("x") + 1e-9).otherwise(col("x")))) != fp,
      "a perturbed value is rejected")
    check(Fp.of(df.withColumn("arr", when(col("id") === 3, array(lit(4))).otherwise(col("arr")))) != fp,
      "a perturbed array element is rejected")
    check(Fp.of(df.filter(col("id") =!= 5)) != fp, "a missing row is rejected")
    check(Fp.of(df.union(df.filter(col("id") === 5))) != fp, "a duplicated row is rejected")
    check(Fp.of(df.withColumnRenamed("s", "t")) != fp, "a renamed column is rejected")

    // 2. listener sums equal the metrics of jobs computed by hand
    val layers = new Layers
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(layers)
    def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
    // 4 map tasks, each holding 250 consecutive ints -> all 7 keys per task;
    // 3 reduce tasks: 1 job, 2 stages, 7 tasks, 28 shuffle records each way
    spark.sparkContext.parallelize(1 to 1000, 4).map(x => (x % 7, x)).reduceByKey(_ + _, 3).collect()
    drain()
    val m = layers.snapshot
    check(m("jobs") == 1 && m("stages") == 2 && m("tasks") == 7,
      s"jobs/stages/tasks 1/2/7 (got ${m("jobs")}/${m("stages")}/${m("tasks")})")
    check(m("shuffle_write_records") == 28 && m("shuffle_read_records") == 28,
      s"shuffle records 28/28 (got ${m("shuffle_write_records")}/${m("shuffle_read_records")})")
    check(m("shuffle_write_bytes") > 0 && m("shuffle_write_bytes") == m("shuffle_read_bytes"),
      s"shuffle bytes written == read (${m("shuffle_write_bytes")})")
    check(m("task_run_s") <= m("task_wall_s") + 1e-9 && m("task_cpu_s") <= m("task_run_s") + 0.05,
      "task cpu <= task run <= task wall")
    // one parquet scan: input bytes == the bytes of the one column chunk read
    // are not fixed, but a re-read of the same file reads the same bytes again
    val b0 = layers.snapshot
    spark.read.parquet(path).agg(sum("id")).collect(); drain()
    val b1 = layers.snapshot
    spark.read.parquet(path).agg(sum("id")).collect(); drain()
    val b2 = layers.snapshot
    check(b1("input_bytes") - b0("input_bytes") > 0 &&
      b2("input_bytes") - b1("input_bytes") == b1("input_bytes") - b0("input_bytes"),
      "input bytes repeat exactly for a repeated scan")
    // final-plan operators: a global window needs one exchange and one sort
    val p0 = layers.snapshot
    spark.range(0, 100, 1, 4).withColumn("r", row_number().over(Window.orderBy("id"))).collect()
    drain()
    val p1 = layers.snapshot
    def d(k: String) = p1(k) - p0(k)
    check(d("windows") == 1 && d("sorts") == 1 && d("exchanges") == 1 && d("broadcasts") == 0,
      s"window plan counts 1/1/1/0 (got ${d("windows")}/${d("sorts")}/${d("exchanges")}/${d("broadcasts")})")
    val q0 = layers.snapshot
    val small = Seq((0L, "a"), (1L, "b")).toDF("id", "name")
    spark.range(0, 100, 1, 4).join(broadcast(small), "id").collect()
    drain()
    val q1 = layers.snapshot
    check(q1("broadcasts") - q0("broadcasts") == 1 && q1("exchanges") - q0("exchanges") == 0,
      "broadcast join plan counts 1 broadcast, 0 shuffles")
    // jobs seen == jobs spanned; time outside jobs is within the window
    check(layers.jobSpans.size == layers.snapshot("jobs"), "every job start has its end")
    spark.stop()
    println("selftest passed")
  }
}
