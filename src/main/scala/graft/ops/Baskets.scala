package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence — the candidate-generation half of frequent
  * itemset mining, and the "items bought together" / "docs cited together"
  * counting primitive. Not in the reference's surface; included because a
  * training-data pipeline uses the same shape for co-occurring entities,
  * tags, and sources.
  */
object Baskets {

  /** Item-pair co-occurrence counts across baskets: for every unordered
    * item pair, in how many baskets both appear. Presence-based — an item
    * repeated within one basket counts once (the distinct-first contract).
    *
    * The quadratic surface is WITHIN a basket: a basket of n items emits
    * n(n−1)/2 pairs, so one mega-basket (a crawler session touching 10⁵
    * docs, a wholesale order) would emit 5·10⁹ rows from a single join
    * key. `maxBasketSize` DROPS oversized baskets entirely — deterministic
    * (a size threshold, not a sample), and the standard practice: a basket
    * that large carries no pairwise signal, only noise mass. Dropped
    * baskets are countable by the caller via a size profile; nothing is
    * silently truncated mid-basket.
    *
    * Scale shape: the `Blocking` kernel — ONE basket-keyed distinct
    * collect (dedup = set semantics; the cap stops each buffer at
    * maxBasketSize + 1 items per task, so a giant basket costs
    * O(maxBasketSize), never its item set) → row-local pair explode
    * bounded by `maxBasketSize`² (item_a < item_b by construction) → a
    * partial-aggregating pair count: TWO exchanges. `minCount` floors the
    * hapax-pair tail before the result leaves the aggregate. */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int, minCount: Long = 1L): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    pairCounts(basketArrays(df, basketCol, itemCol, maxBasketSize),
      "n_baskets", minCount)
  }

  /** Per-basket SORTED distinct item arrays (`basket`, `members`)
    * surviving the size cap — shared by [[basketPairs]] / [[itemCosine]] /
    * [[associationRules]] so pair counts and item counts are always
    * measured over the SAME basket population. One basket-keyed shuffle
    * (the `Blocking` postings); dedup within a basket is the distinct
    * collect itself. */
  private def basketArrays(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int): DataFrame = Blocking.postings(
    df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      // nulls carry no co-occurrence signal and are dropped up front. NOTE
      // this is part of the operator's SEMANTICS, not a neutral cleanup
      // (r21 behavior change, oracle-pinned since): null items no longer
      // count toward a basket's size cap (a basket at exactly
      // maxBasketSize distinct items plus a null item is KEPT), and
      // all-null baskets no longer count toward associationRules' N
      // denominator — where the pre-r21 membership-join form counted them
      // toward both while still emitting no null pairs.
      .filter(col("basket").isNotNull && col("item").isNotNull),
    Seq("basket"), col("item"), maxBasketSize, distinct = true)

  /** Per-pair basket counts (`item_a`, `item_b`, `name`) from the arrays
    * frame, floored at `minCount` before the result leaves the aggregate. */
  private def pairCounts(arrays: DataFrame, name: String,
      minCount: Long): DataFrame =
    Blocking.pairs(arrays)
      .groupBy(col("id_a").as("item_a"), col("id_b").as("item_b"))
      .agg(count(lit(1)).as(name))
      .filter(col(name) >= minCount)

  /** The exploded (basket, item) rows of the capped population — the
    * item-count side of [[itemCosine]] / [[associationRules]], row-local
    * from the arrays frame. */
  private def keptFromArrays(arrays: DataFrame): DataFrame =
    arrays.select(col("basket"), explode(col("members")).as("item"))

  /** Co-visitation cosine ("items also bought"): each co-occurring pair
    * scored by n_ab / √(n_a·n_b) — raw co-counts favor globally popular
    * items; the cosine normalization is the standard item-item
    * collaborative-filtering score (Amazon's classic item2item form).
    * Counts come from the SAME capped basket population as the pairs
    * (a pair's cosine against uncapped counts would exceed 1), so
    * cosine_e6 ∈ [0, 1e6] by construction. One keyed join of the
    * item-count frame onto the pair frame per side on top of
    * [[basketPairs]]' two-exchange plan; the √ is the repo's fixed
    * round(1e6·x/√y) IEEE dag. */
  def itemCosine(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int, minCount: Long = 1L): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val arrays = basketArrays(df, basketCol, itemCol, maxBasketSize)
      .localCheckpoint() // feeds the pair build AND the count frame
    val pairs = pairCounts(arrays, "n_baskets", minCount)
    val cnt = keptFromArrays(arrays)
      .groupBy("item").agg(count(lit(1)).as("n"))
    pairs
      .join(cnt.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(cnt.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_baskets"),
        col("n_a"), col("n_b"),
        round(lit(1e6) * col("n_baskets").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")))
          .cast("long").as("cosine_e6"))
  }

  /** Pairwise association rules (the classic support / confidence / lift
    * triple): every co-occurring pair emitted in BOTH directions as
    * antecedent → consequent, because confidence is asymmetric —
    * diapers→beer and beer→diapers are different rules. All measures are
    * exact integer floor divisions over counts from the SAME capped
    * basket population ([[basketArrays]], shared with [[basketPairs]] /
    * [[itemCosine]]), so the report hash-compares anywhere:
    *
    *   support_e6    = n_ab·10⁶ div N        (pair prevalence)
    *   confidence_e6 = n_ab·10⁶ div n_ante   (P(cons | ante), ≤ 10⁶)
    *   lift_e6       = n_ab·N·10⁶ div (n_ante·n_cons)  (>10⁶ ⇒ positive
    *                   association; independence lands on ~10⁶)
    *
    * The exact lift product needs n_ab·N·10⁶ in a long — fine to ~10⁶
    * baskets per 10⁶ co-counts; past that derive lift downstream from
    * the emitted exact counts (the gainsTable overflow posture). N is
    * the KEPT basket count — measures are consistent under the size cap
    * rather than quietly mixing capped pairs with uncapped totals.
    *
    * Scale shape: [[basketPairs]]' bounded explode + two keyed joins
    * of the item-count frame (broadcast while |items| is small) + one
    * broadcast 1-row N frame; the directional doubling is a row-local
    * union. `minCount` floors the hapax pairs before anything joins. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int, minCount: Long = 1L): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val arrays = basketArrays(df, basketCol, itemCol, maxBasketSize)
      .localCheckpoint() // feeds pairs, item counts, and the N frame
    val pairs = pairCounts(arrays, "n_ab", minCount)
    val directed = pairs.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("n_ab"))
      .unionAll(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("n_ab")))
    val cnt = keptFromArrays(arrays)
      .groupBy("item").agg(count(lit(1)).as("n"))
    val total = arrays.agg(count(lit(1)).as("n_baskets"))
    directed
      .join(cnt.select(col("item").as("antecedent"), col("n").as("n_ante")),
        "antecedent")
      .join(cnt.select(col("item").as("consequent"), col("n").as("n_cons")),
        "consequent")
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_ante"), col("n_cons"), col("n_baskets"),
        expr("n_ab * 1000000L div n_baskets").as("support_e6"),
        expr("n_ab * 1000000L div n_ante").as("confidence_e6"),
        expr("n_ab * n_baskets * 1000000L div (n_ante * n_cons)")
          .as("lift_e6"))
  }
}
