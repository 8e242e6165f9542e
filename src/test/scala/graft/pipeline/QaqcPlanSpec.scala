package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The QA/QC fold is one lazy plan: no self-join, no pinned input, and no cache left
  * behind once its output (or its flag-count report) has been collected. */
class QaqcPlanSpec extends SparkSpec {
  import spark.implicits._

  private def obs = (0 until 200).map { i =>
    (s"s${i % 2}", new Timestamp(1700000000000L + i * 1800000L),
      if (i % 37 == 0) 900.0 else (i % 7).toDouble)
  }.toDF("station", "time", "tas").withColumn("tas_eraqc", lit(null).cast("int"))

  private def newPins(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("singleVariable fold: no Join, no InMemoryRelation, no pins after collect") {
    val out = QaqcPipeline.run(obs, QaqcPipeline.singleVariable("station", "time", "tas",
      lo = 0.0, hi = 500.0, streakNValues = 2, streakNDays = 9999, streakMinSeqLen = 2))
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, plan.treeString)
    assert(plan.collect { case m: InMemoryRelation => m }.isEmpty, plan.treeString)
    var flags = Array.empty[Int]
    assert(newPins {
      flags = out.filter(col("tas_eraqc").isNotNull).select("tas_eraqc").as[Int].collect()
    }.isEmpty)
    assert(flags.nonEmpty)
  }

  test("flagCountReport over the fold leaves no cache behind") {
    val out = QaqcPipeline.run(obs, QaqcPipeline.singleVariable("station", "time", "tas",
      lo = 0.0, hi = 500.0))
    var counts = Map.empty[String, Long]
    assert(newPins {
      counts = QaqcPipeline.flagCountReport(out, "tas_eraqc").as[(String, Long)]
        .collect().toMap
    }.isEmpty)
    assert(counts("total_obs_count") == 200L)
    assert(counts.filter(_._1 != "total_obs_count").values.sum == 200L)
  }
}
