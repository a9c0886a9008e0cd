package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-matrix operators — A1/A5/A6 in SURVEY.md §2.3.
  *
  * The reference materializes a dense line×event one-hot pandas matrix
  * (`process_logs.py:68-83`) — O(lines × events) memory, its de-facto
  * scalability wall (SURVEY §4.1). The engine's PRIMARY representation is
  * the long form `(id, event)` — linear in matched lines, shuffle-friendly,
  * and every downstream aggregation (counts, window features) runs straight
  * off it with map-side partial aggregation. The wide one-hot form is a
  * derived view via `pivot`, only materialized on demand and only with an
  * explicit (or distinct-bounded) column list.
  */
object EventMatrix {

  /** A1 (long form): per-event occurrence counts. Two-phase hash aggregate;
    * at 100 TB this is the shape you want — no wide row, no pivot. */
  def counts(longForm: DataFrame, eventCol: String, cntName: String = "cnt"): DataFrame =
    longForm.groupBy(col(eventCol)).agg(count(lit(1)).as(cntName))

  /** E3 flagship semantics (`stat_calculation.py:1-9`): events with
    * positive occurrence, ordered. */
  def failureDistribution(longForm: DataFrame, eventCol: String): DataFrame =
    counts(longForm, eventCol)
      .filter(col("cnt") > 0)
      .orderBy(col(eventCol))

  /** A5: distinct event ids, sorted (`process_logs.py:75`). */
  def distinctEvents(longForm: DataFrame, eventCol: String): DataFrame =
    longForm.select(col(eventCol)).distinct().orderBy(col(eventCol))

  /** A6: wide one-hot/count pivot. `values` must be supplied (static plan,
    * no extra distinct job) — the long form is authoritative; this view is
    * for ML feature assembly and parity with the reference's matrix.
    * Missing (id,event) combinations are zero-filled like the reference's
    * dense zero matrix. */
  def pivotWide(longForm: DataFrame, idCol: String, eventCol: String,
                values: Seq[String]): DataFrame = {
    val wide = longForm.groupBy(col(idCol))
      .pivot(eventCol, values)
      .agg(count(lit(1)))
    wide.na.fill(0, wide.columns.filterNot(_ == idCol))
  }
}
