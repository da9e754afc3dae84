package graft

import graft.dedup.Dedup
import graft.obs.Probe
import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Diagnostic main behind SCALE.md: times the heavy curation queries at
  * sf0.01 / sf0.1 / a synthetic ~sf1 and reports wall-times plus total
  * shuffle-write bytes, turning the "linear shuffles" plan-reading claims
  * into measured scaling ratios one order of magnitude above bench scale.
  *
  * The driver testdata tops out at sf0.1, so ~sf1 is a DETERMINISTIC 10×
  * replication of sf0.1 documents/embeddings written under /tmp — perf
  * smoke only, never a correctness input. Replication preserves the
  * original's near-dup shape (cluster COUNT grows 10×, cluster SIZE stays
  * flat) instead of manufacturing 10-cliques:
  *  - replica K suffixes every 5th token with "xK": within-replica shingle
  *    sets keep their similarity structure, while cross-replica 3-gram
  *    jaccard drops to ~0.25 — below the 0.5 dedup threshold;
  *  - replica K rotates each embedding left by K dims: norms and
  *    within-replica cosines are exactly preserved, cross-replica cosines
  *    are uncorrelated.
  *
  * Usage: sbt "runMain graft.ScaleSmoke" (env: SPARK_GRAFT_CPUS). */
object ScaleSmoke {

  private val HeavyQueries = Seq(
    "q26_ngram_jaccard", "q45_near_dedup", "q47_simhash64_pairs",
    "q51_tfidf_terms", "q64_embed_dedup_lsh",
    // round-8 additions whose linear-shuffle claims deserve the same
    // measured backing: cross-corpus fuzzy dedup, the flat and
    // bucket-pruned (IVFPQ) code-scan ANN paths, and the corpus-wide
    // boilerplate signal
    "q76_fuzzy_incremental", "q79_pq_adc_topk", "q80_boilerplate",
    "q88_ivfpq_topk",
    // round-10 additions: the cross-source duplication report (pair +
    // closure machinery under a rollup) and the bigram-surprisal join form
    // that replaced round 9's hot-key count windows
    "q96_cross_source", "q95_bigram_surprisal",
    // round-11 additions: keep-best dedup (the #2-hottest bench query —
    // pair index + closure + membership window + anti-join), the funnel
    // and interval-overlap session paths (one keyed window each), and the
    // gap-fill + moving-z composition (span agg + calendar explode)
    "q107_keep_best_dedup", "q92_funnel", "q70_session_overlap",
    "q108_dense_anomaly", "q111_semantic_dedup",
    // round-12 additions: the segment-vocab boilerplate rewrite (the
    // hottest new query), the inverted-index keyword probe and its rrf
    // composition with the cosine scan, and collocation mining's
    // vocab-space marginals
    "q116_strip_boilerplate", "q122_keyword_search",
    "q125_hybrid_retrieval", "q126_collocations",
    // late-r12 additions: the ±2 skip-gram pair explode (the heaviest of
    // the new text statistics) and the transition matrix's keyed window
    "q130_skipgrams", "q133_transition_matrix",
    // round-13 additions: the bounded session-overlap (q70 with its
    // minOverlap/top-k knobs — the row that shows the quadratic output
    // tamed), and the two r12 windows-over-rows draws whose largest-
    // stratum skew bound was argued but not yet measured
    "q138_session_overlap_topk", "q121_stratified_sample",
    "q137_contributor_cap", "q139_span_dedup",
    // late-r13 additions: the CDC diff/apply joins (churn-sized change
    // set vs full-table shuffle), the leakage-safe split's closure +
    // bucket map, the within-basket pair explode (cap-bounded quadratic
    // surface), and the per-key interval-union window
    "q141_snapshot_diff", "q148_changeset_apply", "q143_leakage_split",
    "q150_basket_pairs", "q149_interval_union",
    // third-tranche r13 additions: the deletion-neighborhood fuzzy join
    // (explode ×(len+1) + keyed self-join — the blocking claim measured),
    // the skyline staircase (per-x reduce + value-domain window), and the
    // global-sort ntile profile (the documented single-partition window —
    // its cost curve is exactly what quantile-boundary bucketing avoids)
    "q157_fuzzy_names", "q155_pareto_docs", "q158_decile_profile",
    // fourth-tranche r13 additions: the graph family over the basket
    // edges (oriented wedges, 5-round integer PageRank, 8-round 3-core
    // peel — each round a keyed shuffle on the edge set), the bounded ×7
    // rolling-distinct explode, the incremental cluster fold, and the
    // cross-table fuzzy linkage
    "q161_triangles", "q171_pagerank", "q172_kcore",
    "q163_rolling_active", "q165_incremental_clusters", "q166_fuzzy_link",
    // the winnow fingerprint index — ~1/w of q26's full shingle postings,
    // same capped inverted-index pair stage
    "q183_winnow_pairs",
    // round-14 additions: the r13 tranche that shipped without 10×
    // measurements (k-step funnel's bounded join chain, the |types|^n
    // path count's keyed window, TWAP's per-key interval integration,
    // the entry/exit struct-min) plus the two new r14 iterative ops
    // (BPE merge rounds in vocab space, directed PageRank with the
    // dangling-mass broadcast)
    "q176_funnel_steps", "q177_top_paths", "q179_twap", "q185_entry_exit",
    "q186_bpe_vocab", "q187_pagerank_directed", "q189_communities",
    // second r14 tranche: the SCD2 interval-residual enrichment join,
    // the attribution struct-max window, and the audience self-join
    // (per-user fan-out bounded by |types|²)
    "q190_pit_enrich", "q191_attribution", "q192_audience_overlap",
    // third r14 tranche: the ML-eval/feature ops (value-domain AUC
    // window, global-ntile gains — the documented q158-class sort, the
    // category-join target encode, the token-bucket grouped count, the
    // multi-touch window-bounded join), the basket cosine (pair
    // machinery + two count joins), and the TextRank composition
    // (skip-gram edges under weighted PR, all vocab-space)
    "q195_group_auc", "q197_gains_table", "q193_target_encode",
    "q194_hash_features", "q196_multi_touch", "q198_item_cosine",
    "q200_textrank",
    // late-r14: the per-step walk joins and the seeded-teleport PR
    "q201_hash_walks", "q202_pagerank_personalized",
    // fourth r14 tranche: the BM25 posting probe + doc-length join, the
    // frontier BFS and two-sided HITS over the basket edges, the
    // directed-rule doubling of the basket pair machinery, the z-order
    // cell rollup (row-local bit algebra + one grouped agg), and the
    // two-deletion fuzzy blocking (the ~len²/2-key explode measured)
    "q205_bm25_search", "q206_bfs_distances", "q208_assoc_rules",
    "q209_zorder_cells", "q210_hits", "q211_fuzzy_names_ed2",
    // the analytics tranche's heavier shapes: RFM's three entity-frame
    // global ntiles (the q158-class sort, measured at its safest), the
    // cohort-LTV summary window, Kaplan-Meier's per-group prefix folds,
    // and the delta-fold mart refresh (delta agg + broadcast-key probes)
    "q213_rfm", "q214_cohort_ltv", "q217_kaplan_meier",
    "q218_incremental_agg",
    // the weighted-relaxation rounds over the basket edges, and the
    // per-segment funnel's k frontier joins + segment tallies
    "q223_shortest_paths", "q222_funnel_by_variant",
    // round-16 additions: the r14 eval/time-series tranche that shipped
    // without 10× rows (ranking metrics' per-query windows, the windowed
    // k-step funnel, time-decay attribution's window-bounded join, the
    // EWMA fold, the ACF lag self-joins) and the winnow-backed near-dedup
    // family — q45/q96's closure over the ~1/w fingerprint index instead
    // of the full shingle postings (the SCALE.md shuffle cut, measured)
    "q224_ranking_eval", "q225_funnel_windowed", "q226_time_decay",
    "q227_ewma_chart", "q228_acf", "q234_winnow_near_dedup",
    "q236_winnow_cross_source",
    // second r16 tranche: the corpus-pass additions — the reference-
    // model surprisal's token explode + broadcast model join, the
    // winnow decontamination's fingerprint pass, and the multi-report
    // data card (4 summary-space scans)
    "q240_reference_surprisal", "q241_winnow_decontaminate",
    "q248_data_card",
    // round-18 KMV family: claimed the flattest scale shape in the repo
    // (one partial/final aggregate, <= k longs per task x group, window
    // folding on days x k longs) — measured here to keep that claim
    // evidence, not assertion
    "q250_kmv_distinct", "q255_kmv_rolling", "q259_cross_overlap",
    // round-19 additions: the multi-salt error audit (salt-exploded ×5
    // row pass under one k=256 sketch per cell), the value-carrying
    // quantile sample and its rolling-mart fold, the bigram-exploded
    // weighted overlap, and the three TPC-H-shaped multi-join
    // headliners (fact⋈fact shuffles + dim broadcasts at 10×)
    "q264_kmv_error_multisalt", "q265_kmv_quantiles",
    "q272_kmv_rolling_quantiles", "q270_kmv_weighted_overlap",
    "q267_q3_shipping_priority", "q268_q5_local_supplier_volume",
    "q269_q10_returned_items",
    // second r19 tranche: the cross-corpus weighted overlap (two bigram
    // count passes + a groups² pair stage), the sketch-space KS, and
    // the double-aliased-nation Q7 shape
    "q274_kmv_weighted_cross", "q275_kmv_sample_ks",
    "q277_q7_nation_trade",
    // round-20 additions: the semi/anti fact×fact topologies (Q18's
    // grouped-HAVING key set re-joined to lineitem, Q21's EXISTS/NOT
    // EXISTS self-joins — three keyed passes over lineitem), and the
    // mass-weighted KS (two kmv_values aggregates + a groups² pair
    // stage — the weighted family's flat-shape claim measured)
    "q278_q18_large_orders", "q279_q21_waiting_suppliers",
    "q280_kmv_weighted_ks",
    // second r20 tranche: the correlated-scalar-subquery topology (Q17's
    // per-part avg joined back over the brand-restricted lineitem) and
    // the global-scalar + anti-join topology (Q22's 1-row stat frame +
    // date-pruned LeftAnti) — the last two join classes the headliner
    // suite lacked, measured for the same AQE-flip evidence
    "q282_q17_small_qty_revenue", "q283_q22_idle_balances",
    // the fact×fact LEFT OUTER topology (Q13's count distribution) —
    // outer joins can't drop the preserved side, so the scale question
    // is whether the probe restriction reaches the scan (it does,
    // plan-asserted) and the custkey exchange is reused by the count
    "q284_q13_customer_distribution",
    // the 7-table Q8 tree: the deepest dim fan-in in the suite — the
    // scale question is whether every selective dim lands as a
    // broadcast below the fact joins (plan-asserted) so lineitem
    // shuffles at most once on its join keys
    "q285_q8_market_share",
    // the FULL OUTER ledger diff: both facts collapse to day grain
    // map-side before the join, so the outer join's input is |days|
    // rows at every SF — measured to keep that claim a number
    "q286_recon_full_outer")

  /** Skew stress: the curation queries whose round-10 vocab-space/groupBy
    * rewrites paid single-node cost specifically to survive key skew —
    * measured balanced (sf0.1) vs one domain replicated 50× (skew~). */
  private val SkewQueries = Seq(
    "q104_temperature_mix", "q59_domain_mixing", "q95_bigram_surprisal")

  /** A table dir counts as built only once its _SUCCESS marker landed —
    * the dir itself exists BEFORE job commit finishes, so a bare
    * existence check would trust a half-committed table after a crash. */
  private def committed(outDir: String, table: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(outDir, s"$table.parquet", "_SUCCESS"))

  private def synthSf1(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    // every output must be COMMITTED — a crash between/inside the writes
    // would otherwise leave a half-built dir that every later run trusts
    if (Seq("documents", "embeddings", "events", "orders", "lineitem",
      "customer", "nation", "region", "supplier", "part")
      .forall(committed(outDir, _))) return
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val docBase = docs.agg(max("doc_id")).head().getLong(0) + 1
    val docReps = (0 until 10).map { k =>
      val salted =
        if (k == 0) col("text")
        else concat_ws(" ", transform(split(trim(col("text")), " "),
          (t, i) => when(i % 5 === 0, concat(t, lit(s"x$k"))).otherwise(t)))
      docs.withColumn("doc_id", col("doc_id") + lit(k * docBase))
        .withColumn("text", salted)
    }
    docReps.reduce(_.unionByName(_)).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val vecBase = emb.agg(max("vec_id")).head().getLong(0) + 1
    val embReps = (0 until 10).map { k =>
      val rotated =
        if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, dim - k),
          slice(col("embedding"), 1, k))
      emb.withColumn("vec_id", col("vec_id") + lit(k * vecBase))
        .withColumn("embedding", rotated)
    }
    embReps.reduce(_.unionByName(_)).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // events: replica K remaps users (and event ids) — session/funnel
    // COUNT grows 10×, per-user session shape stays flat, timestamps
    // untouched (replicated users are concurrent, like a bigger site)
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val evBase = ev.agg(max("event_id")).head().getLong(0) + 1
    val userBase = ev.agg(max("user_id")).head().getLong(0) + 1
    (0 until 10).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * evBase))
        .withColumn("user_id", col("user_id") + lit(k * userBase))
    }.reduce(_.unionByName(_)).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")

    // orders: replica K shifts keys by a MULTIPLE OF 50 so q108's
    // `o_orderkey % 50` sampling keeps its exact rate; per-(priority, day)
    // counts grow 10×, the calendar span stays identical
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val rawBase = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    val ordBase = ((rawBase + 49) / 50) * 50
    (0 until 10).map { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * ordBase))
    }.reduce(_.unionByName(_)).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")

    // lineitem: the SAME key shift as orders, so fact↔dim joins stay
    // consistent across replicas; part keys untouched — basket-pair
    // counts grow 10× while per-basket size (the quadratic surface)
    // stays flat, exactly the 100 TB shape
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    (0 until 10).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * ordBase))
    }.reduce(_.unionByName(_)).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")

    // customer: replica K appends "kk" to every name — a TWO-char
    // cross-replica difference, so within-replica edit-distance-1 pair
    // structure is preserved exactly (10× pair count, linear) while
    // cross-replica names stay at distance ≥ 2 and never pair. A 1-char
    // tag would make replicas pairwise distance-1 and grow q157's output
    // quadratically in the replica count.
    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
    val custBase = cust.agg(max("c_custkey")).head().getLong(0) + 1
    (0 until 10).map { k =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(k * custBase))
        .withColumn("c_name",
          if (k == 0) col("c_name") else concat(col("c_name"), lit(s"$k$k")))
    }.reduce(_.unionByName(_)).write.mode("overwrite")
      .parquet(s"$outDir/customer.parquet")

    // dims: copied as-is — at 10× the fact volume nation/region/supplier
    // stay dimension-sized (the realistic warehouse shape), and the
    // replicated facts reference the UNSHIFTED s_suppkey/nationkeys, so
    // the multi-join headliners stay referentially intact at sf1~
    Seq("nation", "region", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** One domain replicated 50×: real key skew for the domain-grouped
    * curation operators (the generator's sources are balanced, so skew has
    * to be synthesized). Only `documents` — the three SkewQueries read
    * nothing else. */
  private def synthSkew(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    if (committed(outDir, "documents")) return
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val base = docs.agg(max("doc_id")).head().getLong(0) + 1
    val hot = docs.filter(col("source") === "src0")
    ((docs +: (1 until 50).map(k =>
      hot.withColumn("doc_id", col("doc_id") + lit(k * base))))
      .reduce(_.unionByName(_)))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-scale-smoke")

    val sf1Dir = "/tmp/graft_scale_sf1"
    synthSf1(spark, "/root/testdata/sf0.1", sf1Dir)

    // two settled, probed runs, min: run 1 doubles as JIT/codegen warm-up
    // at this scale; shuffle MB is the run's total shuffle write
    def best[T](body: => T): (Double, Double, T) = (1 to 2).map { _ =>
      Probe.settle(spark, 300L)
      val (result, sample) = Probe.measure(spark)(body)
      (sample.wallS, sample.total(_.shuffleWrite) / 1e6, result.get)
    }.minBy(_._1)

    // the numPlanes scale knob: at 10× the corpus, doubling the planes
    // (16 → 256 buckets) keeps per-bucket pair counts flat — measured as
    // its own row
    val lshScaled: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => Dedup.removeNearDupesLsh(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4, numPlanes = 8, dim = 64)
    // the kmeans_k scale knob: 4× the cells at 10× the corpus holds
    // within-cell pair counts near flat — semanticDedup's num_planes analogue
    val semScaled: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => Dedup.semanticDedup(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 64, iters = 1, threshold = 0.4)

    // the retrieval-surface decomposition: q122/q205's posting-probe
    // shuffle is |Q|·Σ_qterm df — the %97 query set grows WITH the
    // corpus (more-like-this over every 97th doc), so 10× docs means
    // 10× queries × 10× postings = ~100× hit surface BY CONTRACT. These
    // variants pin |Q| at the sf0.1 count (% 970 at 10× the ids) to
    // show the per-query cost scales ~linearly in the corpus alone.
    val bm25FixedQ: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.text.TextAnalysis.bm25TopK(docs,
          docs.filter(col("doc_id") % 970 === 0),
          "doc_id", "text", "doc_id", "text",
          k = 5, excludeSelf = true, maxDfFracE6 = 780000L)
      }
    val kwFixedQ: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        graft.text.TextAnalysis.keywordSearchTopK(docs,
          docs.filter(col("doc_id") % 970 === 0),
          "doc_id", "text", "doc_id", "text",
          k = 5, excludeSelf = true, maxDfFracE6 = 780000L)
      }

    val dirs = Seq(
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1~" -> sf1Dir)
    println("| query | sf | sec | shuffle_mb |")
    println("|---|---|---|---|")
    dirs.foreach { case (label, dir) =>
      val qs = (HeavyQueries
        .filter(SparkEntry.selected)
        .map(n => n -> SparkEntry.queries(n))) ++
        (if (label == "sf1~")
          Seq("q64_lsh_numPlanes8" -> lshScaled,
            "q111_semantic_k64" -> semScaled,
            "q205_bm25_fixedQ" -> bm25FixedQ,
            "q122_keyword_fixedQ" -> kwFixedQ)
            .filter { case (n, _) => SparkEntry.selected(n) }
        else Nil)
      qs.foreach { case (name, fn) =>
        val (sec, mb, _) = best(Probe.noop(fn(spark, dir)))
        println(f"| $name | $label | $sec%.2f | $mb%.1f |")
      }
    }

    // skew stress: balanced sf0.1 vs one domain ×50. Triggered via
    // collect() — NOT count(), which builds its own groupBy().count()
    // QueryExecution and would leave the df's adaptive plan unexecuted
    // (always printing 0 skew joins); collect() runs the df's OWN
    // queryExecution, so the final adaptive plan is inspectable (a noop
    // write would also have a separate queryExecution). Results are
    // grouped summaries — small enough to collect.
    val skewDir = "/tmp/graft_scale_skew"
    synthSkew(spark, "/root/testdata/sf0.1", skewDir)
    println("| query | variant | sec | shuffle_mb | aqe_skew_joins |")
    println("|---|---|---|---|---|")
    Seq("balanced" -> "/root/testdata/sf0.1", "skew50x" -> skewDir)
      .foreach { case (label, dir) =>
        SkewQueries.filter(SparkEntry.selected)
          .foreach { name =>
          val (sec, mb, df) =
            best(SparkEntry.queries(name)(spark, dir).tap(_.collect()))
          val splits = "skew=true".r
            .findAllIn(df.queryExecution.executedPlan.toString).length
          println(f"| $name | $label | $sec%.2f | $mb%.1f | $splits |")
        }
      }
    spark.stop()
  }
}
