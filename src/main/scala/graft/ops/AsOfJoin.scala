package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (temporal point-in-time) join — the operator Spark's built-in
  * joins lack: for every left row, attach the single most recent right
  * row with the same key and `right.time <= left.time` (an equal-time
  * right row matches), LEFT-OUTER style (no prior right row ⇒ nulls). The canonical
  * uses are event attribution ("which view preceded this purchase") and
  * point-in-time feature lookup ("the sensor state in force when this
  * reading happened").
  *
  * Implementation is the union-tag form, NOT a range join: left and
  * right rows are tagged, unioned, and shuffled ONCE on the key; a
  * single ordered window then carries the latest right payload forward
  * onto each left row (`last(_, ignoreNulls)` over unbounded-preceding).
  * A naive `l JOIN r ON l.k = r.k AND r.t <= l.t` + max-per-row plan
  * explodes to |matches| intermediate rows (potentially l×r per key);
  * this stays O(l + r) rows end-to-end with one exchange and one sort —
  * the plan you want when both sides are 100 TB event streams. Within
  * a key, ties on time are resolved deterministically: the right row
  * with the greatest `rightTiebreak` wins, and an equal-time right row
  * sorts before the left row, so it is visible to it.
  */
object AsOfJoin {

  /** @param left          probe side; all its columns pass through.
    * @param right         reference side; only `rightCols` are attached.
    * @param keys          equi-join key columns (present on both sides).
    * @param leftTime      left ordering column (timestamp or numeric).
    * @param rightTime     right ordering column.
    * @param rightCols     right columns to carry onto matching left rows
    *                      (must not collide with left column names after
    *                      prefixing).
    * @param rightTiebreak right column ordering equal-time right rows —
    *                      the greatest value wins (e.g. an event id).
    * @param rightPrefix   prefix for the attached right columns.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightCols: Seq[String],
      rightTiebreak: String,
      rightPrefix: String = "r_"): DataFrame = {
    // Internal helper columns are derived from the input schemas instead
    // of hardcoded: a left or right frame that already contains a column
    // named `__t`/`__side`/… must not trip duplicate/ambiguous-column
    // analysis errors, so keep lengthening the prefix until no input
    // column starts with it.
    val inputCols = (left.columns ++ right.columns).toSet
    val p = Iterator.iterate("__")(_ + "_")
      .find(pre => !inputCols.exists(_.startsWith(pre))).get
    val (cT, cSide, cTie, cR, cL, cM) =
      (p + "t", p + "side", p + "tie", p + "r", p + "l", p + "m")
    // Tag and union: right rows carry their payload in one struct column,
    // left rows carry their full row in another; each side nulls the
    // other's struct so the union is schema-aligned. Null-key right rows
    // are dropped up front: window partitioning groups nulls TOGETHER,
    // which would hand null-key left rows a match that equi-join
    // semantics (and e.g. DuckDB's ASOF JOIN) never produce — left rows
    // with null keys stay, and simply never match.
    val rTagged = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .select(
      keys.map(col) ++ Seq(
        col(rightTime).as(cT),
        lit(0).as(cSide),
        col(rightTiebreak).as(cTie),
        struct(rightCols.map(col): _*).as(cR)): _*)
    val lTagged = left.select(
      keys.map(col) ++ Seq(
        col(leftTime).as(cT),
        lit(1).as(cSide),
        struct(left.columns.toIndexedSeq.map(col): _*).as(cL)): _*)
    val rType = rTagged.schema(cR).dataType
    val lType = lTagged.schema(cL).dataType
    val unioned = lTagged
      .withColumn(cTie, lit(null).cast(rTagged.schema(cTie).dataType))
      .withColumn(cR, lit(null).cast(rType))
      .unionByName(rTagged.withColumn(cL, lit(null).cast(lType)))

    // Equal-time ordering encodes the `<=` bound: right (side 0) sorts
    // before left (side 1) and is visible to it. The side column fully
    // separates left from right at equal time, so the tiebreak only
    // orders right rows among themselves — ascending, so `last` picks
    // the greatest.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(cT).asc, col(cSide).asc, col(cTie).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    unioned.withColumn(cM, last(col(cR), ignoreNulls = true).over(w))
      .filter(col(cSide) === 1)
      .select(col(s"$cL.*") +: rightCols.map(c => col(s"$cM.$c").as(rightPrefix + c)): _*)
  }
}
