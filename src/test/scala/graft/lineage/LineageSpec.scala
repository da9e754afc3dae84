package graft.lineage

import graft.SparkSpec
import graft.config.{DerivedColumn, SilverSpec}
import java.nio.file.Files

class LineageSpec extends SparkSpec {

  test("column lineage extracts real references from Catalyst, not tokens") {
    val spec = SilverSpec(
      renames = Seq("PULocationID" -> "pickup_location_id"),
      derived = Seq(DerivedColumn("speed",
        "trip_distance / nullif(coalesce(duration_min, fallback_min) / 60, 0)")))
    val edges = Lineage.columnLineage(spec)
    edges.find(_.kind == "RENAME").get.sources shouldBe Seq("PULocationID")
    edges.find(_.target == "speed").get.sources shouldBe
      Seq("duration_min", "fallback_min", "trip_distance")
  }

  test("tracker BFS: upstream and downstream are transitive") {
    val t = new Lineage.Tracker()
    t.record(Lineage.EventType.Ingestion, "source", "bronze.trips", 100, 100)
    t.record(Lineage.EventType.Transformation, "bronze.trips", "silver.trips", 100, 90)
    t.record(Lineage.EventType.Aggregation, "silver.trips", "gold.daily", 90, 10)
    t.record(Lineage.EventType.Aggregation, "silver.trips", "gold.hourly", 90, 24)
    t.upstream("gold.daily") shouldBe Set("silver.trips", "bronze.trips", "source")
    t.downstream("bronze.trips") shouldBe Set("silver.trips", "gold.daily", "gold.hourly")
    t.downstream("gold.daily") shouldBe Set.empty
  }

  test("reachabilityPairs ≡ tracker BFS over the recorded graph") {
    val t = new Lineage.Tracker()
    t.record(Lineage.EventType.Ingestion, "source", "bronze.trips", 100, 100)
    t.record(Lineage.EventType.Transformation, "bronze.trips", "silver.trips", 100, 90)
    t.record(Lineage.EventType.Aggregation, "silver.trips", "gold.daily", 90, 10)
    t.record(Lineage.EventType.Aggregation, "silver.trips", "gold.hourly", 90, 24)
    t.record(Lineage.EventType.Aggregation, "gold.daily", "gold.monthly", 10, 1)
    val pairs = Lineage.reachabilityPairs(t.edgesDF(spark))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val nodes = pairs.map(_._1).toSet ++ pairs.map(_._2).toSet
    nodes.foreach { n =>
      withClue(s"node $n: ") {
        pairs.filter(_._1 == n).map(_._2).toSet shouldBe t.upstream(n)
        pairs.filter(_._2 == n).map(_._1).toSet shouldBe t.downstream(n)
      }
    }
    // depth-4 chain closed: the terminal mart sees every ancestor
    pairs.filter(_._1 == "gold.monthly").map(_._2).toSet shouldBe
      Set("gold.daily", "silver.trips", "bronze.trips", "source")
  }

  test("reachabilityPairs: a cycle converges and reports self-reachability") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"))
      .toDF("source_table", "target_table")
    val pairs = Lineage.reachabilityPairs(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // every node reaches every node, including itself — the loud signal
    pairs shouldBe (for (x <- Seq("a", "b", "c"); y <- Seq("a", "b", "c"))
      yield (x, y)).toSet
  }

  test("reachabilityPairs delta rounds ≡ driver closure on random graphs " +
      "(cycles and self-loops included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 12 + rnd.nextInt(8)
      val edges = Seq.fill(30)((s"t${rnd.nextInt(n)}", s"t${rnd.nextInt(n)}"))
        .distinct
      // independent reference: BFS per node over the reversed edge list
      val adj = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      def upstreams(start: String): Set[String] = {
        val seen = scala.collection.mutable.Set[String]()
        val q = scala.collection.mutable.Queue(start)
        while (q.nonEmpty) {
          adj.getOrElse(q.dequeue(), Nil)
            .foreach(u => if (seen.add(u)) q.enqueue(u))
        }
        seen.toSet
      }
      val expected = (edges.map(_._1) ++ edges.map(_._2)).distinct
        .flatMap(t => upstreams(t).map(u => (t, u))).toSet
      val got = Lineage
        .reachabilityPairs(edges.toDF("source_table", "target_table"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      withClue(s"trial $trial: ") { got shouldBe expected }
    }
  }

  test("reachabilityPairs delta rounds keep the naive doubling round count") {
    import spark.implicits._
    // depth-8 chain: R_k covers path lengths <= 2^k, so growth stops at
    // round 4 (2^3 >= 8) — exactly the naive R ∪ R∘R recurrence's count.
    // maxRounds = 4 must converge; 3 must throw (round 3 still grew).
    val chain = (0 until 8).map(i => (s"n$i", s"n${i + 1}"))
      .toDF("source_table", "target_table")
    noException should be thrownBy
      Lineage.reachabilityPairs(chain, maxRounds = 4).collect()
    an[IllegalStateException] should be thrownBy
      Lineage.reachabilityPairs(chain, maxRounds = 3)
  }

  test("events persist partitioned by (partition_day, layer) and query back") {
    val t = new Lineage.Tracker()
    t.record(Lineage.EventType.Transformation, "bronze.t", "silver.t", 10, 9,
      atMs = 1700000000000L)
    val dir = Files.createTempDirectory("graft_lineage").toString
    t.persist(spark, dir)
    val back = spark.read.parquet(dir).where("target_table = 'silver.t'")
    back.count() shouldBe 1
    back.head().getAs[String]("layer") shouldBe "silver"
  }
}
