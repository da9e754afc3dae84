package org.apache.spark.sql.classic

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

/** Pins the Spark bug [[GraftCheckpoint]] works around: the
  * `Lineage.reachabilityPairs` round shape (distinct + anti-join over
  * self-referencing checkpoints, then a union) over PLAIN lazy
  * `localCheckpoint`s fails in constraint rewriting. When a Spark upgrade
  * fixes it, the first test fails and the workaround can go. */
class GraftCheckpointSpec extends SparkSpec {
  /** The closure rounds of `reachabilityPairs` over q140's edge shape (a
    * binary tree on 1..63, filtered, so the plan carries constraints), with
    * `checkpoint` applied to each round's frontier. */
  private def closure(checkpoint: DataFrame => DataFrame): Long = {
    var pairs = spark.range(0, 64).filter(col("id") >= 1)
      .select(col("id").as("node"), expr("id div 2").as("upstream"))
      .distinct().localCheckpoint()
    var delta = pairs
    var grew = true
    while (grew) {
      val viaFront = delta.as("a")
        .join(pairs.select(col("node").as("_mid"), col("upstream").as("_up")),
          col("a.upstream") === col("_mid"))
        .select(col("a.node").as("node"), col("_up").as("upstream"))
      val viaBack = pairs.as("a")
        .join(delta.select(col("node").as("_mid"), col("upstream").as("_up")),
          col("a.upstream") === col("_mid"))
        .select(col("a.node").as("node"), col("_up").as("upstream"))
      val fresh = checkpoint(viaFront.unionByName(viaBack).distinct()
        .join(pairs, Seq("node", "upstream"), "left_anti")
        .localCheckpoint(eager = false))
      grew = fresh.count() != 0L
      if (grew) {
        pairs = pairs.unionByName(fresh).localCheckpoint(eager = false)
        delta = fresh
      }
    }
    pairs.count()
  }

  test("the plain localCheckpoint still fails the closure round's union") {
    val e = intercept[java.util.NoSuchElementException](closure(identity))
    e.getMessage should startWith("key not found")
    e.getStackTrace.map(_.getMethodName) should contain("rewriteConstraints")
  }

  test("dropOriginConstraints closes the same rounds") {
    // node n has floor(log2 n) + 1 upstreams: 1·1 + 2·2 + 4·3 + … + 32·6
    closure(GraftCheckpoint.dropOriginConstraints) shouldBe 321L
  }
}
