package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join

class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("editDistance1Join: finds exactly the ed<=1 pairs (sub, ins/del, eq)") {
    val names = Seq(
      (1L, "martin"),  // ~2 substitution, ~3 deletion
      (2L, "marvin"),  // substitution of 1
      (3L, "martn"),   // deletion from 1
      (4L, "martinez"), // ed 2 from 1 — must NOT pair
      (5L, "bob"),
      (6L, "bob"))     // exact duplicate of 5 → dist 0
      .toDF("id", "name")
    val out = Fuzzy.editDistance1Join(names, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (2,3) marvin↔martn is ed 2 — correctly absent.
    out shouldBe Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 1L,
      (5L, 6L) -> 0L)
  }

  test("editDistance1JoinBetween: cross-table linkage incl. multi-match") {
    val canon = Seq((1L, "cat7"), (2L, "cat9"), (3L, "dog4")).toDF("id", "name")
    val probes = Seq(
      (10L, "cat"),   // last char dropped: matches BOTH cat7 and cat9
      (11L, "dogg4"), // one insertion from dog4
      (12L, "bird"))  // matches nothing
      .toDF("pid", "pname")
    // the default cap, and the cap off (0), which plans no anti-join
    Seq(1000, 0).foreach { cap =>
      val pairs = Fuzzy.editDistance1JoinBetween(
        probes, "pid", "pname", canon, "id", "name", maxBlockSize = cap)
      val out = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      out shouldBe Map(
        (10L, 1L) -> 1L, (10L, 2L) -> 1L,
        (11L, 3L) -> 1L)
      val antiJoins = pairs.queryExecution.logical.collect {
        case j: Join if j.joinType == LeftAnti => j
      }
      antiJoins.size shouldBe (if (cap > 0) 2 else 0)
    }
  }

  test("editDistance1Join: maxBlockSize drops hot blocks whole") {
    // 1-char strings all share the "" deletion key → one hot block.
    val tiny = (1L to 30L).map(i => (i, ('a' + (i % 26)).toChar.toString))
      .toDF("id", "s")
    val capped = Fuzzy.editDistance1Join(tiny, "id", "s", maxBlockSize = 5)
    // Identity keys (the strings themselves) survive: exact dup pairs only.
    capped.filter("dist > 0").count() shouldBe 0L
    val uncapped = Fuzzy.editDistance1Join(tiny, "id", "s", maxBlockSize = 0)
    // Without the cap every distinct pair of letters is distance 1.
    uncapped.filter("dist > 0").count() should be > 0L
  }

  test("editDistance2Join: exactly the ed<=2 pairs, brute-force checked") {
    // double substitution, transposition (= 2 edits), sub+del, double
    // insert, and a distance-3 pair that must NOT appear
    val rows = Seq(
      (1L, "kitten"), (2L, "mitten"), // sub: 1
      (3L, "sitten"), // sub vs both: 1
      (4L, "mutten"), // 2 subs from kitten, 1 from mitten
      (5L, "kitetn"), // transposition of kitten: 2
      (6L, "kit"), // distance 3 from kitten: excluded
      (7L, "kien")) // del 2 from kitten: 2
      .toDF("id", "s")
    val got = Fuzzy.editDistance2Join(rows, "id", "s", maxBlockSize = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute-force truth over all 21 pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
      d(a.length)(b.length)
    }
    val strs = Seq(1L -> "kitten", 2L -> "mitten", 3L -> "sitten",
      4L -> "mutten", 5L -> "kitetn", 6L -> "kit", 7L -> "kien")
    val want = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib) -> d.toLong).toMap
    got shouldBe want
    // sanity on the interesting cases
    got((1L, 5L)) shouldBe 2L // transposition
    got((1L, 7L)) shouldBe 2L // double deletion
    got.keySet should not contain ((1L, 6L)) // distance 3
  }
}
