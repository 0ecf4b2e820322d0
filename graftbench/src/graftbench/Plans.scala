package graftbench

import org.apache.spark.sql.DataFrame

/** Facts read from an executed physical plan (after adaptive execution has
  * settled it). */
object Plans {
  private def nodes(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .map(_.dropWhile(c => " :+-*!".contains(c)).trim).toSeq

  /** Merge-on-read arm of a lake read: `window` when a row_number window
    * arbitrates base and deltas, `broadcast` when deltas are broadcast
    * against base files, `columnar` when only compacted files are scanned. */
  def morArm(df: DataFrame): String = {
    val ns = nodes(df)
    if (ns.exists(_.startsWith("Window"))) "window"
    else if (ns.exists(n => n.startsWith("BroadcastHashJoin") ||
      n.startsWith("BroadcastNestedLoopJoin"))) "broadcast"
    else "columnar"
  }

  /** Shuffle and broadcast exchanges in the final plan. */
  def exchanges(df: DataFrame): Int =
    nodes(df).count(n => n.startsWith("Exchange") || n.startsWith("BroadcastExchange") ||
      n.startsWith("ReusedExchange"))
}
