package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized (seeded, deterministic) property checks: each optimized
  * operator against its brute-force semantic spec on adversarially small
  * alphabets/domains — tiny strings maximize deletion-key collisions,
  * tiny value domains maximize skyline/top-k ties. The oracle gate proves
  * these on the one driver dataset; these prove them on 200-odd random
  * worlds per run. */
class RandomizedPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xC0FFEE)

  test("editDistance1Join ≡ brute-force levenshtein join on random strings") {
    // short strings over {a,b,c}: dense ed-1 neighborhoods, "" included
    val strs = (1L to 200L).map { i =>
      val len = rnd.nextInt(7)
      (i, (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
    }
    val df = strs.toDF("id", "s")
    val blocked = Fuzzy.editDistance1Join(df, "id", "s", maxBlockSize = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = df.as("a").join(df.as("b"),
        col("a.id") < col("b.id") &&
          levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    blocked shouldBe brute
    brute.size should be > 100 // non-vacuous: the alphabet makes pairs dense
  }

  test("Blocking postings + pairs ≡ naive self-join under a count-then-filter cap") {
    Seq(6, 12, Int.MaxValue).foreach { cap =>
      // 12 small keys straddling the cap, one hot key, members drawn with
      // repeats, and a key whose repeated member pairs twice
      val rows = (1 to 80).map(_ => (rnd.nextInt(12), rnd.nextInt(8).toLong)) ++
        (1 to 40).map(_ => (99, rnd.nextInt(30).toLong)) ++
        Seq((50, 1L), (50, 1L), (50, 2L))
      val df = rows.toDF("k", "m")
      val kernel = Blocking.pairs(Blocking.postings(df, Seq("k"), col("m"), cap))
        .as[(Long, Long)].collect().toSeq.sorted
      val kept = df.groupBy("k").count().filter(col("count") <= cap).select("k")
      val capped = df.join(kept, "k")
      val naive = capped.as("a").join(capped.as("b"),
          col("a.k") === col("b.k") && col("a.m") < col("b.m"))
        .select(col("a.m"), col("b.m")).as[(Long, Long)].collect().toSeq.sorted
      withClue(s"cap=$cap: ") {
        kernel shouldBe naive
        kernel.distinct.size should be < kernel.size // repeated members pair as the join does
        if (cap != Int.MaxValue) kept.count() should be < 14L // some key dropped
        kernel should not be empty
      }
    }
  }

  test("skyline2D ≡ brute-force dominance on random points with heavy ties") {
    val pts = (1L to 300L).map(i =>
      (i, rnd.nextInt(8).toLong, rnd.nextInt(8).toLong))
    val df = pts.toDF("id", "x", "y")
    val fast = Pareto.skyline2D(df, "x", "y")
      .select("id").as[Long].collect().toSet
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) =>
        qx >= x && qy >= y && (qx > x || qy > y)
      }
    }.map(_._1).toSet
    fast shouldBe brute
    fast.size should be >= 1
  }

  test("topk_longs ≡ sort-take on random multisets across partitionings") {
    val vals = (1 to 500).map(_ => ("g", rnd.nextInt(40).toLong))
    val expected = vals.map(_._2).sorted(Ordering[Long].reverse).take(7)
    Seq(1, 3, 17).foreach { parts =>
      val got = vals.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(expr("topk_longs(v, 7)").as("t"))
        .head().getSeq[Long](1)
      got shouldBe expected
    }
  }

  test("triangleCounts ≡ brute-force enumeration on a random graph") {
    val edges = (1 to 150).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val df = edges.toDF("u", "v")
    val fast = Graphs.triangleCounts(df, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val canon = edges.map { case (a, b) => (a.min(b), a.max(b)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = canon.flatMap { case (a, b) => Set(a, b) }.toSeq.sorted
    val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(a, b, c) <- nodes.combinations(3)
      if canon((a, b)) && canon((b, c)) && canon((a, c))
      n <- Seq(a, b, c)
    } brute(n) += 1L
    fast shouldBe brute.toMap
    fast.values.sum should be > 0L
  }

  test("bfsDistances ≡ shortestPathsBounded at unit weight on random multigraphs") {
    (1 to 3).foreach { _ =>
      // drawn with replacement over 20 nodes, plus explicit duplicate,
      // reversed and self-loop edges
      val drawn = (1 to 40).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      val edges = drawn ++ drawn.take(8) ++ drawn.slice(8, 16).map(_.swap) ++
        drawn.take(4).map { case (u, _) => (u, u) }
      val df = edges.toDF("u", "v").withColumn("w", lit(1L))
      // one seed absent from the graph
      val seeds = (Seq(drawn.head._1, drawn(1)._2, 99L)).toDF("node")
      Seq(false, true).foreach { directed =>
        val bfs = Graphs.bfsDistances(df, "u", "v", seeds, "node",
            maxHops = 3, directed = directed)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val unit = Graphs.shortestPathsBounded(df, "u", "v", "w", seeds,
            "node", maxHops = 3, directed = directed)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        withClue(s"directed=$directed edges=$edges") {
          bfs shouldBe unit
          bfs.values.max should be > 0L // non-vacuous: some node was reached
        }
      }
    }
  }
}
