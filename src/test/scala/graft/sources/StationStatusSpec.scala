package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins `StationStatus.updateStationList` against the reference semantics of
  * `stnlist_update_clean.py:152-330` (clean_qa): Y/N status from the full-outer
  * merge, unlisted-cleaned append, bare-id substring error attach with
  * last-match-wins, clean-time gating, and the 1-vs-many error formats. */
class StationStatusSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("cleaned status, unlisted append, error attach/gating/formatting") {
    import spark.implicits._
    val stations = Seq("NET_1", "NET_12", "NET_2").toDF("era_id")
    // NET_7 is cleaned but not in the station list -> appended with Y (:267-279)
    val cleaned = Seq(
      ("NET_12", ts("2021-01-10 00:00:00")),
      ("NET_2", ts("2021-06-01 00:00:00")),
      ("NET_7", ts("2021-03-01 00:00:00"))).toDF("id", "time_cleaned")
    val errors = Seq(
      // matches bares {1, 12, 2}; last match = greatest era_id = NET_2; its
      // clean time (06-01) gates this March error OUT (:300-313)
      ("raw_12_x.csv", ts("2021-03-15 00:00:00"), "parse fail"),
      // matches only bare 7 (appended station) and survives its gate
      ("raw_7_x.csv", ts("2021-03-02 00:00:00"), "bad units"),
      // two surviving errors on NET_7 -> "file: error" pairs joined (:315-321)
      ("raw_7_y.csv", null.asInstanceOf[Timestamp], "io error"),
      // duplicate (file, error) row dropped (:145-146)
      ("raw_7_y.csv", null.asInstanceOf[Timestamp], "io error"),
      // whole-network rows dropped (:148)
      ("Whole network", ts("2021-01-01 00:00:00"), "listing fail"))
      .toDF("file", "time", "error")

    val got = StationStatus.updateStationList(stations, cleaned, errors)
      .orderBy("era_id").collect()

    assert(got.map(_.getAs[String]("era_id")).toSeq ==
      Seq("NET_1", "NET_12", "NET_2", "NET_7"))
    assert(got.map(_.getAs[String]("cleaned")).toSeq == Seq("N", "Y", "Y", "Y"))
    // the ambiguous raw_12 error went to NET_2 (last match) and was then
    // time-gated away -> nobody reports it; NET_12 must NOT have inherited it
    assert(got.filter(_.getAs[String]("errors_str") != null)
      .map(_.getAs[String]("era_id")).toSeq == Seq("NET_7"))
    val e7 = got.find(_.getAs[String]("era_id") == "NET_7").get
    assert(e7.getAs[String]("errors_str") ==
      "raw_7_x.csv: bad units raw_7_y.csv: io error")
  }

  test("qaqc ledger: _c suffix normalization, unlisted outputs dropped") {
    import spark.implicits._
    val stations = Seq("NET_1", "NET_2", "NET_3").toDF("era_id")
    val passed = Seq(
      // concatenated-station output renamed with _c -> normalizes back to NET_2
      // (`stnlist_update_qaqc.py:131-137`)
      ("NET_2_c", ts("2021-01-10 00:00:00")),
      // unlisted stage output: DROPPED, not appended (`:253`)
      ("NET_9", ts("2021-02-01 00:00:00"))).toDF("id", "time_qaqc")
    val errors = Seq.empty[(String, Timestamp, String)].toDF("file", "time", "error")

    val got = StationStatus.updateStationListQaqc(stations, passed, errors)
      .orderBy("era_id").collect()
    assert(got.map(_.getAs[String]("era_id")).toSeq == Seq("NET_1", "NET_2", "NET_3"))
    assert(got.map(_.getAs[String]("qaqc")).toSeq == Seq("N", "Y", "N"))
    assert(got.find(_.getAs[String]("era_id") == "NET_2").get
      .getAs[Timestamp]("time_qaqc") == ts("2021-01-10 00:00:00"))
  }

  test("merge ledger: no _c rule, time-gated error attach") {
    import spark.implicits._
    val stations = Seq("NET_4", "NET_5").toDF("era_id")
    val passed = Seq(("NET_4", ts("2021-05-01 00:00:00"))).toDF("id", "time_merge")
    val errors = Seq(
      // at/after merge time -> kept (`stnlist_update_merge.py:316-323`)
      ("raw_4_x.csv", ts("2021-05-02 00:00:00"), "gap check"),
      // before merge time -> gated out
      ("raw_4_y.csv", ts("2021-04-01 00:00:00"), "stale")).toDF("file", "time", "error")
    val got = StationStatus.updateStationListMerge(stations, passed, errors)
      .orderBy("era_id").collect()
    assert(got.map(_.getAs[String]("merged")).toSeq == Seq("Y", "N"))
    assert(got.head.getAs[String]("errors_str") == "gap check")
    // a merge id with _c must NOT normalize here (no _c rule in the merge stage)
    val passedC = Seq(("NET_5_c", ts("2021-05-01 00:00:00"))).toDF("id", "time_merge")
    val got2 = StationStatus.updateStationListMerge(stations, passedC,
      errors.limit(0)).orderBy("era_id").collect()
    assert(got2.map(_.getAs[String]("merged")).toSeq == Seq("N", "N"))
  }

  test("pull ledger: missed stations, per-year gaps, 1980 floor, junk-row immunity") {
    import spark.implicits._
    val stations = Seq(
      // pre-1980 start: expected years clamp to 1980..1982
      ("725300-94846", 123, "1975-06-01 00:00:00", "1982-12-31 23:00:00"),
      // normal window 1981..1983
      ("722950-23174", 99999, "1981-01-01 00:00:00", "1983-12-31 23:00:00"),
      // end before the clamped start: empty expectation, nothing reported
      ("700001-00001", 7, "1975-01-01 00:00:00", "1978-12-31 23:00:00"),
      // no files at all -> missed report, absent from the gap report
      ("745090-23188", 42, "1980-01-01 00:00:00", "1981-12-31 23:00:00")
    ).toDF("isd_id", "wban", "start_time", "end_time")
    val files = Seq(
      "1_raw_wx/ISD/725300-94846-1980.gz",
      "1_raw_wx/ISD/725300-94846-1982.gz", // 1981 missing
      "1_raw_wx/ISD/722950-23174-1981.gz",
      "1_raw_wx/ISD/722950-23174-1982.gz",
      "1_raw_wx/ISD/722950-23174-1983.gz", // complete
      "1_raw_wx/ISD/700001-00001-1979.gz", // outside the (empty) window
      "1_raw_wx/ISD/745090-23188-19x0.gz", // junk under ANSI: non-numeric year
      "1_raw_wx/ISD/report-2020.txt"
    ).toDF("file")
      // junk: not .gz, and a literal row the optimizer constant-folds (s23's shape)
      .union(spark.range(1).select(lit("1_raw_wx/ISD/isd-history-stations.csv").as("file")))
    val missed = StationStatus.pullMissedStations(stations, files)
      .select("isd_id", "wban").as[(String, String)].collect().toSet
    // WBAN zero-pads to 5
    assert(missed == Set(("745090-23188", "00042")))
    val gaps = StationStatus.pullMissingFiles(stations, files)
      .as[(Int, String)].collect().toSet
    assert(gaps == Set((1981, "725300-94846-1981.gz")))
  }

  test("single error reports its text verbatim; uncleaned keeps all errors") {
    import spark.implicits._
    val stations = Seq("NET_5").toDF("era_id")
    val cleaned = Seq.empty[(String, Timestamp)].toDF("id", "time_cleaned")
    val errors = Seq(("raw_5_x.csv", ts("2020-01-01 00:00:00"), "oops"))
      .toDF("file", "time", "error")
    val got = StationStatus.updateStationList(stations, cleaned, errors).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("cleaned") == "N")
    // uncleaned (null time_cleaned) keeps the error; single error is verbatim
    assert(got.head.getAs[String]("errors_str") == "oops")
  }
}
