package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.LatestRecord

/** The two latest-work-record frames over the MODON_WK event log, each
  * defined once. Sections take them as arguments: the weekly report
  * runner materializes each once per report and hands the same frame
  * to every section that reads it; standalone callers pass the
  * un-materialized definition over their own modon_wk, so a farm
  * predicate applied to that modon_wk still reaches the scan. */
object LatestWork {

  /** The sow's current work as of the base date — the status machine's
    * input (data_loader.py:235-275): use_yn='Y', wk_dt ≤ BaseDate,
    * wk_gubun ≠ 'Z', latest by (wk_dt, seq) per (farm_no, pig_no). */
  def last(modonWk: DataFrame): DataFrame =
    LatestRecord.viaAgg(
      modonWk.filter(col("use_yn") === "Y" &&
        col("wk_dt") <= Fixtures.BaseDate && col("wk_gubun") =!= "Z"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("wk_dt", "seq"))

  /** The MAX(SEQ) form the schedule and config sections read
    * (alert.py:102-106, schedule.py:420-434): use_yn='Y', latest by
    * seq per (farm_no, pig_no). */
  def seqLatest(modonWk: DataFrame): DataFrame =
    LatestRecord.viaAgg(modonWk.filter(col("use_yn") === "Y"),
      keys = Seq("farm_no", "pig_no"), ord = Seq("seq"))
}
