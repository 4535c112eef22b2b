package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Test oracle for [[graft.ops.Dedup.connectedComponents]]: the loop it
  * replaced, kept unchanged. Each round is a large-star step (a window
  * minimum over the symmetric edge list, then `distinct`) and a small-star
  * step (a window minimum per `hi`, then `distinct`), and a star-forest
  * probe runs after every round but the first. Same contract: (id,
  * component) for every id in a non-self pair, component = the minimum id
  * of its component, and it throws when `maxRounds` rounds do not reach a
  * star forest. */
object StarLoopOracle {

  def connectedComponents(pairs: DataFrame, idA: Column, idB: Column, maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var edges = pairs
      .select(greatest(idA, idB).as("hi"), least(idA, idB).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star: key each node u by its full neighborhood, m = min of
      // the neighborhood incl. u; every LARGER neighbor re-attaches to m
      val sym = edges
        .select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lm = least(col("u"), min(col("v")).over(Window.partitionBy("u")))
      val large = sym
        .select(col("u"), col("v"), lm.as("m"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star on the (hi > lo)-oriented result: every node's SMALLER
      // neighbors (and the node itself) re-attach to the neighborhood min
      val sm = min(col("lo")).over(Window.partitionBy("hi"))
      val withM = large.select(col("hi"), col("lo"), sm.as("m"))
      val nextPlan = withM
        .select(col("hi"), col("m").as("lo"))
        .union(withM.filter(col("lo") =!= col("m")).select(col("lo").as("hi"), col("m").as("lo")))
        .distinct()
      // eager localCheckpoint each round: ONE compute pass, then the
      // convergence probe and the next round's two union branches read the
      // materialized partitions. (A persist-marked plan is worse here: the
      // probe references `next` twice and an uncached first action executes
      // the whole round subtree once per branch -- no cross-branch CSE.)
      val next = nextPlan.localCheckpoint()
      // converged when the edge set is a star forest: every node points at
      // exactly one (root) node, and no root is itself re-attached. ONE
      // probe job: per node, whether its parents disagree (min != max over
      // non-null lo -- same predicate as distinct-count > 1, but a plain
      // partial-aggregable min/max instead of a two-phase Expand
      // distinct-aggregate) and whether it occurs on both sides of an edge.
      // The round-1 probe is SKIPPED: no real candidate graph is a star
      // forest on arrival (one round of star alternation is never enough),
      // so that probe -- over the LARGEST edge set of the whole loop -- can
      // only ever say "not yet"; an already-converged input just pays one
      // no-op round over its final (smallest) edge set before detection.
      // With maxRounds = 1 there is no later round, so the probe runs.
      val loType = next.schema("lo").dataType
      val bad =
        if (round == 0 && maxRounds > 1) 1L
        else next
          .select(col("hi").as("n"), col("lo"))
          .union(next.select(col("lo").as("n"), lit(null).cast(loType).as("lo")))
          .groupBy("n")
          .agg(min(col("lo")).as("lo_min"), max(col("lo")).as("lo_max"),
            count(col("lo")).as("asChild"), count(lit(1)).as("tot"))
          .filter(col("lo_min") =!= col("lo_max") || (col("asChild") > 0 && col("tot") > col("asChild")))
          .limit(1)
          .count()
      edges.unpersist(blocking = false)
      edges = next
      converged = bad == 0L
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // star forest -> labels: children point at the root, roots label themselves
    edges
      .select(col("hi").as("id"), col("lo").as("component"))
      .union(edges.select(col("lo").as("id"), col("lo").as("component")))
      .distinct()
  }
}
