package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The reference's whole `ETLTask::run()` (reference:
  * sdk/src/ETLTask.php:28-72) as ONE declarative DataFrame program:
  *
  *   extract → project/map → first-wins dedup → anti-join destination → load
  *
  * The reference runs this tuple-at-a-time with a network round-trip per row
  * (cursor read, per-row exists probe, buffered batch insert). Here the
  * entire task is a single Catalyst-planned job; the per-row boundary
  * crossings become one hash exchange per unique column, for its first-wins
  * window. The destination's key column is broadcast to the anti joins, or
  * shuffled by the join itself when it is too large to broadcast.
  */
object ETLPipeline {

  /** Build the transform for one flow. `orderCol` supplies the cursor order
    * that "first occurrence" refers to; it must exist on the SOURCE frame
    * (before column mapping) or be one of the mapped destination columns.
    * `observe`, when given, receives `rows`: the source rows that pass the
    * flow's query, counted by whichever job runs the result.
    */
  def transform(source: DataFrame,
                flow: FlowSpec,
                destination: Option[DataFrame],
                orderCol: Option[String] = None,
                runTs: String = ColumnMapping.runTimestamp(),
                observe: Option[Observation] = None): DataFrame = {

    val filtered0 = flow.query.fold(source)(q => source.filter(expr(q)))
    // operator-string conditions (the reference's SQLTable::exists form,
    // parsed fail-fast by PipelineSpec): AND-joined, values coerced to
    // the column's type like a string-bound server-side parameter
    val filtered =
      if (flow.queryConds.isEmpty) filtered0
      else filtered0.filter(ExistsProbe.predicate(filtered0, flow.queryConds))
    // Observed above the filters: a CollectMetrics node stops them from
    // reaching the scan.
    val read = observe.fold(filtered)(o =>
      filtered.observe(o, count(lit(1)).as("rows")))

    // Carry an explicit ordering column through the mapping so dedup order
    // is well-defined (SURVEY §7.4.1: monotonically_increasing_id is only
    // partition-ordered; an explicit column is exact).
    val order: Seq[Column] = orderCol match {
      case Some(c) => Seq(col(c))
      case None => Seq(monotonically_increasing_id())
    }

    val mappedCols = flow.columns.map(_.toColumn(runTs))
    val orderName = "__graft_order"
    val mapped = orderCol match {
      case Some(c) if flow.columns.exists(_.dst == c) =>
        read.select(mappedCols: _*)
      case _ =>
        read.select(mappedCols :+ order.head.alias(orderName): _*)
    }
    val orderExpr =
      if (mapped.columns.contains(orderName)) Seq(col(orderName))
      else order

    // The reference checks unique columns in COLUMN-MAPPING order, not
    // unique-list order (sdk/src/ETLTask.php:39-53 iterates the columns
    // map) — the order decides which values a multiply-keyed duplicate
    // claims before being dropped.
    val uniqueInColumnOrder =
      flow.columns.map(_.dst).filter(flow.unique.contains) ++
        flow.unique.filterNot(k => flow.columns.exists(_.dst == k))
    // With a destination, its existing keys fold INTO each per-column pass
    // (the reference's probe-and-cache interleave — see
    // Dedup.firstWinsAny); no unique columns, no dedup.
    val survived = Dedup.firstWinsAny(mapped, uniqueInColumnOrder,
      orderExpr, destination)

    if (survived.columns.contains(orderName)) survived.drop(orderName)
    else survived
  }
}
