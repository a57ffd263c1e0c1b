package graft

/** The plan-shape signature the golden pin compares: how often each
  * node that costs money at 100 TB (hash/range exchange, window sort,
  * sort-merge / broadcast-hash / broadcast-nested-loop join, cached
  * scan) occurs in a physical plan string. A new Exchange, or a
  * broadcast silently flipping to SortMergeJoin, is a scale regression
  * even when results stay correct. PlanSpec's golden test and Bench's
  * tripwire both compare against [[goldenFile]]. */
object PlanShape {
  /** One `<query> <signature>` line per registered query, generated
    * at sf0.001; the path is relative to the repository root. */
  val goldenFile = new java.io.File("src/test/resources/plan_golden.txt")

  private val markers = Seq(
    "exch" -> "Exchange hashpartitioning",
    "range" -> "Exchange rangepartitioning",
    "win" -> "Window [",
    "smj" -> "SortMergeJoin",
    "bhj" -> "BroadcastHashJoin",
    "bnlj" -> "BroadcastNestedLoopJoin",
    "cache" -> "InMemoryTableScan")

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  def signature(plan: String): String =
    markers.map { case (k, m) => s"$k=${count(plan, m)}" }.mkString(" ")
}
