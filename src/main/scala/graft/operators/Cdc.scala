package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC changelog application (the Debezium / "apply the binlog" step):
  * fold an out-of-order stream of `insert` / `update` / `delete` ops
  * into the final table state — last-writer-wins per key by a version
  * stamp, a delete as the last op removes the key. The sibling of
  * [[graft.analyze.Scd2]] (which keeps the history; this materializes
  * the head) and of the q100 presence-flag upsert (which has no
  * deletes and no version ordering).
  *
  * Semantics: for each key, the op with the highest `(version)` wins
  * (ties broken by op arrival being unique per version — enforce
  * upstream); if the winner is a delete the key is absent from the
  * output; otherwise the winner's payload is the row. A base row is an
  * implicit version-0 insert.
  *
  * Scale shape: base and changelog union in the scan; the winner per
  * key is a max-struct HASH AGGREGATE over `(version, op, payload…)` —
  * one shuffle keyed on the key, no ranking window, no per-key sort,
  * map-side partial combine (each mapper forwards one candidate row per
  * key it saw). The struct comparison is lexicographic on the leading
  * version field, so the aggregate IS last-writer-wins.
  */
object Cdc {

  /** Apply `changes(keyCol, version, op, payload…)` (`op` ∈
    * insert|update|delete; insert and update are synonymous upserts) to
    * `base(keyCol, payload…)`. Returns the final state with the same
    * schema as `base`. */
  def apply(base: DataFrame, changes: DataFrame, keyCol: String,
            versionCol: String, opCol: String): DataFrame = {
    val payload = base.columns.filter(_ != keyCol).toSeq
    val stamped = base.select(
      (col(keyCol) +: lit(0L).as("__v") +: lit("insert").as("__op") +:
        payload.map(col)): _*)
      .unionByName(changes.select(
        (col(keyCol) +: col(versionCol).cast("long").as("__v") +:
          col(opCol).as("__op") +: payload.map(col)): _*))
    stamped
      .groupBy(col(keyCol))
      .agg(max(struct(
        (col("__v") +: col("__op") +: payload.map(col)): _*)).as("__w"))
      .filter(col("__w.__op") =!= "delete")
      .select((col(keyCol) +: payload.map(c => col(s"__w.$c").as(c))): _*)
  }

  /** FIELD-LEVEL survivorship (MDM "golden record"): merge per-key
    * records from several stamped sources, keeping for EACH attribute
    * independently the value of the highest-version source where that
    * attribute is non-null — a row-level last-writer-wins ([[apply]])
    * would resurrect one source's nulls over another source's data;
    * survivorship is the per-field refinement.
    *
    * Scale shape: same single hash aggregate as [[apply]] — each
    * attribute rides its own conditional max-struct `(version, value)`
    * (null values never enter the aggregate, so a null can never win),
    * map-side partial combine, no window, no per-key sort. One shuffle
    * for any number of sources and attributes. */
  def goldenRecord(sources: Seq[(Long, DataFrame)], keyCol: String,
                   attrCols: Seq[String]): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    val stamped = sources.map { case (v, df) =>
      df.select((col(keyCol) +: lit(v).as("__v") +: attrCols.map(col)): _*)
    }.reduce(_.unionByName(_))
    val winners = attrCols.map(c =>
      max(when(col(c).isNotNull, struct(col("__v"), col(c).as("a"))))
        .as(s"__w_$c"))
    stamped.groupBy(col(keyCol))
      .agg(winners.head, winners.tail: _*)
      .select((col(keyCol) +: attrCols.map(c => col(s"__w_$c.a").as(c))): _*)
  }
}
