package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clean-stage bookkeeping (`/root/reference/scripts/2_clean_data/
  * stnlist_update_clean.py:152-330`, `clean_qa`): stamp each station-list row with
  * its cleaned status, time of clean, and any relevant clean-stage errors.
  *
  * Re-expressed Spark-first:
  *  - the reference's per-row Python loops (error→station substring scan, per-station
  *    error filtering/joining) become ONE broadcast theta-join + window + groupBy —
  *    no driver iteration, no O(stations × errors) pandas pass;
  *  - the station lists and error reports are metadata-sized (thousands of rows), so
  *    the join side is broadcast and the per-station `collect_list` is bounded by a
  *    station's own error count.
  *
  * Faithful semantics:
  *  - `cleaned` = "Y"/"N" from a FULL OUTER merge on the standardized id — cleaned
  *    outputs missing from the station list are appended (`:267-279`);
  *  - error rows dedup on (file, error) and drop the "Whole network" rows
  *    (`parse_error_csv`, `:145-149`);
  *  - an error attaches to the station whose BARE id (the part after the network
  *    prefix) appears as a substring of the error's `file` — when several match, the
  *    LAST one wins (`id[-1]`, `:295-298`; the reference's "last" is station-list
  *    frame order, which is ingestion-dependent — here it is made deterministic as
  *    the greatest `era_id`, documented delta);
  *  - for a cleaned station only errors at-or-after its clean time (or with no
  *    timestamp) are kept; an uncleaned station keeps all its errors (`:300-313`);
  *  - one error reports its text verbatim; several report `"file: error"` pairs
  *    joined with spaces (`:315-321`), in deterministic (file, error) order.
  *
  * Per-network id standardization (ISD dash-strip, CIMIS numeric ids, CW3E `C3`
  * prefix strip, SCAN triplet head, `:197-240`) belongs to the catalogs — callers
  * pass a station list that already carries `era_id` ([[NetworkCatalogs]] builds the
  * same ids on the data path). Listing adapters (one file per station vs CW3E's
  * per-station-year layout, `get_cleaned_stations`) are caller-side for the same
  * reason.
  */
object StationStatus {

  /** @param stations station list with an `era_id` column (passthrough columns kept)
    * @param cleaned   cleaned-output listing: `id`, `time_cleaned` (timestamp)
    * @param errors    clean-stage error report: `file`, `time` (nullable), `error`
    * @return stations ∪ unlisted-cleaned, with `cleaned` ("Y"/"N"), `time_cleaned`,
    *         and nullable `errors_str` appended */
  def updateStationList(stations: DataFrame, cleaned: DataFrame,
                        errors: DataFrame): DataFrame =
    stageUpdate(stations, cleaned, errors, "cleaned", "time_cleaned",
      appendUnlisted = true)

  /** QAQC-stage ledger (`/root/reference/scripts/3_qaqc_data/stnlist_update_qaqc.py`,
    * `qaqc_qa`): same shape as the clean ledger with two deltas — concatenated-
    * station output ids carry a `_c` suffix that is normalized back to the original
    * id (`:131-137`, everything before the first `"_c"`), and stage outputs missing
    * from the station list are DROPPED, not appended (`stations.loc[stations
    * ["ERA-ID"].notnull()]`, `:253`). `passed` columns: `id`, `time_qaqc`. */
  def updateStationListQaqc(stations: DataFrame, passed: DataFrame,
                            errors: DataFrame): DataFrame =
    stageUpdate(stations,
      passed.withColumn("id", substring_index(col("id"), "_c", 1)),
      errors, "qaqc", "time_qaqc", appendUnlisted = false)

  /** Merge-stage ledger (`/root/reference/scripts/4_merge_data/
    * stnlist_update_merge.py`, `merge_qa`): identical to the QAQC ledger minus the
    * `_c` normalization. `passed` columns: `id`, `time_merge`. */
  def updateStationListMerge(stations: DataFrame, passed: DataFrame,
                             errors: DataFrame): DataFrame =
    stageUpdate(stations, passed, errors, "merged", "time_merge",
      appendUnlisted = false)

  /** Pull-stage ledger, part 1 (`/root/reference/scripts/1_pull_data/
    * stnlist_update_pull.py:479-558`, `isd_retry_downloads`): stations from the
    * station list with NO downloaded file at all. Completes the 4-stage ledger
    * family (pull → clean → qaqc → merge).
    *
    * `files` is the object listing of the raw prefix (full paths); a data file
    * is `<prefix>/<ISD-ID>-<YYYY>.gz` — the station id is the basename before
    * `-<YYYY>.gz` (the reference's `file[0:-5]` slice); rows not named
    * `<id>-<YYYY>.gz` (station lists, reports) are ignored.
    * `WBAN` is zero-padded to 5 (`:522-524`); the reference's
    * drop-the-index-column fixup is a pandas artifact with no Spark analog.
    *
    * Scale shape: the listing parses scan-side; one anti-join on the id (the
    * station list is metadata-sized — AQE broadcasts it). */
  def pullMissedStations(stations: DataFrame, files: DataFrame): DataFrame =
    stations
      .join(pullInventory(files).select(col("sid")).distinct(),
        stations("isd_id") === col("sid"), "left_anti")
      .withColumn("wban", lpad(col("wban").cast("string"), 5, "0"))

  /** Pull-stage ledger, part 2 (`stnlist_update_pull.py:527-558`): for stations
    * that DID download, the per-year gap report — every expected year
    * (`max(floorYear, year(start_time))..year(end_time)`, `:531-535`) with no
    * matching file, as `(year, file_name = "<ISD-ID>-<year>.gz")` rows ready
    * for the retry fetcher (the fetcher itself is the documented S10 cut).
    *
    * Documented delta: the reference tests year presence by SUBSTRING
    * containment anywhere in the filename (`str(year) in file`, `:539-541`),
    * which false-positives when a station id embeds a year-like digit run
    * (e.g. `"198003-99999"` reports year 1980 present forever); here the year
    * is parsed from its canonical `-YYYY.gz` position, so the gap report is
    * exact. `start_time`/`end_time` are the reference's string timestamps —
    * the year is their first-4-chars slice (`[0:4]`).
    *
    * Scale shape: expected years ride a per-row `sequence` (array, no
    * explode until after `array_except` prunes to the gaps); downloaded years
    * aggregate map-side to one set per station. One groupBy + one join, both
    * station-count-sized. */
  def pullMissingFiles(stations: DataFrame, files: DataFrame,
                       floorYear: Int = 1980): DataFrame = {
    val got = pullInventory(files)
      .groupBy(col("sid")).agg(collect_set(col("fyear")).as("_got"))
    val sy = greatest(lit(floorYear), substring(col("start_time"), 1, 4).cast("int"))
    val ey = substring(col("end_time"), 1, 4).cast("int")
    stations
      .join(got, stations("isd_id") === got("sid"))
      .withColumn("_missing", array_except(
        when(ey >= sy, sequence(sy, ey)).otherwise(array().cast("array<int>")),
        col("_got")))
      .select(col("isd_id"), explode(col("_missing")).as("year"))
      .select(col("year"),
        concat(col("isd_id"), lit("-"), col("year").cast("string"), lit(".gz"))
          .as("file_name"))
  }

  /** Parse the raw-prefix object listing into (sid, fyear) rows; names other
    * than `<id>-<YYYY>.gz` are skipped. The `when` keeps the ANSI cast off them
    * even where the optimizer folds a literal row's projection before the filter. */
  private def pullInventory(files: DataFrame): DataFrame = {
    val name = substring_index(col("file"), "/", -1)
    val year = regexp_extract(name, "-(\\d{4})\\.gz$", 1)
    files
      .filter(year =!= "")
      .select(
        regexp_extract(name, "^(.*)-\\d{4}\\.gz$", 1).as("sid"),
        when(year =!= "", year.cast("int")).as("fyear"))
  }

  private def stageUpdate(stations: DataFrame, passed: DataFrame, errors: DataFrame,
                          statusCol: String, timeCol: String,
                          appendUnlisted: Boolean): DataFrame = {
    val passthrough = stations.columns.filter(_ != "era_id").toSeq

    val joined = stations.join(passed, stations("era_id") === passed("id"), "full_outer")
      .select(coalesce(stations("era_id"), passed("id")).as("era_id") +:
        when(passed("id").isNull, "N").otherwise("Y").as(statusCol) +:
        passed(timeCol) +:
        (stations("era_id").isNotNull).as("_listed") +:
        passthrough.map(stations(_)): _*)
    val base = (if (appendUnlisted) joined else joined.filter(col("_listed")))
      .drop("_listed")

    val errs = errors
      .filter(col("file") =!= "Whole network")
      .dropDuplicates("file", "error")

    // bare id = the part after the network prefix ("CIMIS_12" -> "12"); the station
    // side is metadata-sized -> broadcast, so the LIKE theta-join never shuffles the
    // error table and never becomes a cross product at scale
    val stationSide = broadcast(base.select(col("era_id").as("m_era_id"),
      col(timeCol).as("m_time_cleaned"),
      substring_index(col("era_id"), "_", -1).as("bare_id")))

    val lastMatch = Window.partitionBy("file", "error").orderBy(col("m_era_id").desc)
    val attached = errs
      .join(stationSide, col("file").contains(col("bare_id")))
      .withColumn("_rn", row_number().over(lastMatch)).filter(col("_rn") === 1)
      .filter(col("m_time_cleaned").isNull || col("time").isNull ||
        col("time") >= col("m_time_cleaned"))

    val perStation = attached.groupBy(col("m_era_id").as("era_id"))
      .agg(sort_array(collect_list(struct(col("file"), col("error")))).as("_es"))
      .select(col("era_id"), when(size(col("_es")) === 1, col("_es")(0)("error"))
        .otherwise(concat_ws(" ",
          transform(col("_es"), e => concat(e("file"), lit(": "), e("error")))))
        .as("errors_str"))

    base.join(perStation, Seq("era_id"), "left")
  }
}
