package graft

import graft.config._
import graft.config.ConfigLoader.PipelineConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def bronzeDf = Seq(
    (1L, "A", 2.0, 10.0), (2L, "B", 0.0, 20.0), // zero distance filtered
    (3L, "A", 5.0, 30.0), (3L, "A", 5.0, 30.0)) // dup of id 3
    .toDF("id", "vendor", "distance", "fare")

  private def config = PipelineConfig(
    version = "1.0",
    name = "trips",
    bronze = None,
    silver = SilverSpec(
      filters = Seq("distance > 0"),
      dedupe = Some(DedupeSpec(Seq("id"), Seq("fare DESC")))),
    gold = Seq(GoldModel("by_vendor", Seq("vendor"),
      Seq(Measure("trips", "count(1)"), Measure("total_fare", "sum(fare)")))),
    quality = QualitySpec(positiveColumns = Seq("fare"), failOnError = true))

  test("medallion run: bronze → silver → gold with reference invariants") {
    val r = Pipeline.run(spark, config, bronzeDf)
    val rows = r.stages.map(s => s.name -> s.rows).toMap
    rows("bronze") shouldBe 4L
    rows("silver") shouldBe 2L // filter drops 1, dedupe drops 1
    rows("silver") should be <= rows("bronze") // e2e invariant
    rows("gold.by_vendor") shouldBe 1L
    r.qualityResults.forall(_.passed) shouldBe true
    // lineage recorded the whole chain
    r.lineage.upstream("gold.by_vendor") shouldBe
      Set("silver.trips", "bronze.trips", "source")
  }

  test("quality gate: failOnError aborts on violations") {
    val bad = Seq((1L, "A", 2.0, -10.0)).toDF("id", "vendor", "distance", "fare")
    val e = the[IllegalStateException] thrownBy Pipeline.run(spark, config, bad)
    e.getMessage should include("positive_values")
  }

  /** A sink's copy of its frame: the sink contract is that the sink runs
    * the frame it is handed, so a spec that inspects a stage afterwards
    * keeps the rows, not the lazy plan. */
  private def materialized(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  // one stage of every kind, over one frame
  private val allStagesYaml =
    """version: "1.0"
      |pipeline:
      |  name: all
      |gold:
      |  - name: by_lang
      |    group_by: [lang]
      |    measures:
      |      - {name: docs, expression: "count(1)"}
      |sessions:
      |  key_column: user_id
      |  ts_us_column: ts_us
      |  tie_column: doc_id
      |  value_column: value
      |  gap_sec: 30
      |retrieval:
      |  id_column: doc_id
      |  text_column: text
      |  queries_filter: "doc_id % 2 = 0"
      |  k: 2
      |features:
      |  id_column: doc_id
      |  hash_text: {text_column: text, n_buckets: 16}
      |  target_encode: {category_column: lang, target_column: y, m: 10}
      |split:
      |  key_column: doc_id
      |  weights:
      |    train: 80
      |    test: 20
      |layout:
      |  key_column: doc_id
      |  n_shards: 4
      |""".stripMargin

  private def allStagesDocs = (0L until 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} common words", s"u${i % 6}",
        i * 7000000L, i.toDouble, if (i % 3 == 0) "de" else "en", i % 4))
    .toDF("doc_id", "text", "user_id", "ts_us", "value", "lang", "y")

  test("gold sink receives each mart exactly once") {
    var sunk = Map.empty[String, Long]
    Pipeline.run(spark, config, bronzeDf,
      goldSink = Some((name, df) => sunk += name -> df.count()))
    sunk shouldBe Map("by_vendor" -> 1L)

    // every stage kind: with a sink, the sink's write is the stage's ONE
    // SQL execution and its rows are the stage's rows; without a sink,
    // one count per stage
    val cfg = ConfigLoader.parse(allStagesYaml)
    val docs = allStagesDocs
    val sinks = Seq("by_lang" -> "gold.by_lang", "sessions" -> "gold.sessions",
      "retrieval" -> "gold.retrieval", "features_hash" -> "gold.features_hash",
      "features_target" -> "gold.features_target", "split" -> "split",
      "layout_plan" -> "gold.layout_plan")
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val sc = spark.sparkContext
    val StageTag = "graft.test.stage"
    def measure[T](body: => T): (scala.util.Try[T], Seq[java.util.Properties]) = {
      val (result, sample) = graft.obs.Probe.measure(spark)(body)
      (result, sample.jobs.map(_.properties))
    }
    val (sinked, sinkedJobs) = measure(Pipeline.run(spark, cfg, docs,
      goldSink = Some { (name, df) =>
        sc.setLocalProperty(StageTag, name)
        try df.write.mode("overwrite").parquet(s"$out/$name")
        finally sc.setLocalProperty(StageTag, null)
      }))
    val (plain, plainJobs) = measure(Pipeline.run(spark, cfg, docs))
    val (_, baseJobs) = measure(Pipeline.run(spark, cfg.copy(
      gold = Nil, sessions = None, retrieval = None, features = None,
      split = None, layout = None), docs))
    // a job outside any SQL execution counts as an execution of its own
    def executions(jobs: Seq[java.util.Properties]): Int =
      jobs.zipWithIndex.map { case (p, i) =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .getOrElse(s"job $i") }.distinct.size
    val byStage = sinkedJobs.groupBy(p => Option(p.getProperty(StageTag)))
    byStage.keySet.flatten shouldBe sinks.map(_._1).toSet
    sinks.foreach { case (name, _) =>
      withClue(name)(executions(byStage(Some(name))) shouldBe 1) }
    // no stage runs outside its sink: the rest of the sinked run is the
    // stage-less run plus the retrieval index's build-time checkpoint...
    executions(byStage(None)) shouldBe executions(baseJobs) + 1
    // ...and without a sink each stage adds one count to the same
    executions(plainJobs) shouldBe executions(baseJobs) + 1 + sinks.size
    val rows = sinked.get.stages.map(s => s.name -> s.rows).toMap
    sinks.foreach { case (name, stage) =>
      withClue(name)(rows(stage) shouldBe
        spark.read.parquet(s"$out/$name").count()) }
    plain.get.stages shouldBe sinked.get.stages
    sinks.map(s => rows(s._2)).foreach(_ should be > 0L)
    // an empty stage observes zero rows
    Pipeline.run(spark, config, bronzeDf.filter("fare < 0"),
      goldSink = Some((_, df) => df.write.format("noop").mode("overwrite")
        .save())).stages.last shouldBe Pipeline.StageResult("gold.by_vendor", 0L)
    // a sink that never runs its frame has no rows to report: the run
    // fails, naming the stage, instead of waiting forever
    val e = the[IllegalStateException] thrownBy Pipeline.run(
      spark, config, bronzeDf, goldSink = Some((_, _) => ()))
    e.getMessage should include("gold.by_vendor")
  }

  test("cache_after_transform: same stage rows, caches released") {
    val cfg = ConfigLoader.parse(allStagesYaml +
      """curation:
        |  dedup:
        |    strategy: exact
        |    id_column: doc_id
        |    content_column: text
        |""".stripMargin)
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val docs = allStagesDocs
    val uncached = Pipeline.run(spark, cfg, docs)
    val cached = Pipeline.run(spark, cfg.copy(cacheSilver = true), docs)
    cached.stages shouldBe uncached.stages
    cached.stages.map(_.name) should contain("curated")
    cacheManager.isEmpty shouldBe true
    // a failing quality gate releases them too
    val gated = cfg.copy(cacheSilver = true,
      quality = QualitySpec(positiveColumns = Seq("value"), failOnError = true))
    val e = the[IllegalStateException] thrownBy Pipeline.run(spark, gated, docs)
    e.getMessage should include("quality gate failed")
    cacheManager.isEmpty shouldBe true
  }

  test("curation from YAML alone: ingest → gate → dedupe → mix → gold") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |silver:
        |  filters:
        |    - "doc_id IS NOT NULL"
        |  derived_columns:
        |    - name: n_tokens
        |      expression: "size(split(trim(text), ' '))"
        |curation:
        |  language_filter:
        |    text_column: text
        |    keep:
        |      - en
        |      - und
        |  quality_gate:
        |    id_column: doc_id
        |    text_column: text
        |    min_tokens: 3
        |    max_tokens: 100
        |    min_avg_token_len_e6: 1000000
        |    max_avg_token_len_e6: 20000000
        |    min_ttr_e6: 0
        |    max_dup_2gram_e6: 1000000
        |  pii:
        |    - column: text
        |      preset: email
        |      replacement: "[EMAIL]"
        |    - column: text
        |      pattern: "fox"
        |  dedup:
        |    strategy: exact
        |    id_column: doc_id
        |    content_column: text
        |  mixing:
        |    key_column: doc_id
        |    domain_column: source
        |    default_pct: 100
        |    rates:
        |      banned: 0
        |  budget:
        |    id_column: doc_id
        |    score_column: n_tokens
        |    token_column: n_tokens
        |    max_tokens: 6
        |gold:
        |  - name: by_source
        |    group_by:
        |      - source
        |    measures:
        |      - name: docs
        |        expression: count(1)
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.dedup).map(_.strategy) shouldBe Some("exact")
    cfg.curation.flatMap(_.language).map(_.keep) shouldBe Some(Seq("en", "und"))
    // preset expands to the named pattern; replacement defaults
    cfg.curation.map(_.pii).get shouldBe Seq(
      graft.config.PiiRule("text", graft.config.PiiRule.Presets("email"),
        "[EMAIL]"),
      graft.config.PiiRule("text", "fox", "[REDACTED]"))

    val docs = Seq(
      (1L, "the quick brown fox jumps", "web"),
      (2L, "the quick brown fox jumps", "web"),   // exact dup of 1 → dropped
      (3L, "tiny", "web"),                         // < 3 tokens → gated out
      (4L, "a completely different sentence here", "banned"), // mixed out (0%)
      (5L, "another unique document with words", "books"))
      .toDF("doc_id", "text", "source")

    var sunk = Map.empty[String, Long]
    val r = Pipeline.run(spark, cfg, docs,
      goldSink = Some((name, df) => sunk += name -> df.count()))
    val rows = r.stages.map(s => s.name -> s.rows).toMap
    rows("silver") shouldBe 5L
    // gate/dedup/mix leave ids 1 and 5 (5 tokens each, equal scores); the
    // 6-token budget then keeps only the tie-break winner, id 1
    rows("curated") shouldBe 1L
    sunk shouldBe Map("by_source" -> 1L) // web only
    r.lineage.upstream("curated.docs") should contain("silver.docs")
    // gold hangs off the CURATED node when curation ran — the silver→gold
    // edge would carry inconsistent row counts
    r.lineage.upstream("gold.by_source") should contain("curated.docs")
  }

  test("keep_best dedup + per-domain budgets drive from YAML alone") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |silver:
        |  derived_columns:
        |    - name: n_tokens
        |      expression: "size(split(trim(text), ' '))"
        |curation:
        |  dedup:
        |    strategy: keep_best
        |    id_column: doc_id
        |    content_column: text
        |    score_column: n_tokens
        |    ngram: 3
        |    threshold: 0.5
        |  budget:
        |    id_column: doc_id
        |    score_column: n_tokens
        |    token_column: n_tokens
        |    domain_column: source
        |    default_domain_tokens: 0
        |    per_domain:
        |      web: 8
        |      books: 6
        |gold:
        |  - name: survivors
        |    group_by:
        |      - doc_id
        |    measures:
        |      - name: docs
        |        expression: count(1)
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.dedup).flatMap(_.scoreColumn) shouldBe Some("n_tokens")
    cfg.curation.flatMap(_.budget).map(_.perDomain) shouldBe
      Some(Map("web" -> 8L, "books" -> 6L))

    val docs = Seq(
      // near-dup pair: 2 is a longer (better-scoring) variant of 1 —
      // keep_best must keep 2 where min-id would keep 1
      (1L, "alpha beta gamma delta epsilon zeta", "web"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (3L, "totally unrelated words live here now", "web"),
      (4L, "short books doc", "books"),
      (5L, "the other books document sits here", "books"),
      (6L, "a lone misc row", "misc"))
      .toDF("doc_id", "text", "source")
    var kept = Set.empty[Long]
    Pipeline.run(spark, cfg, docs, goldSink = Some((_, df) =>
      kept = df.select("doc_id").collect().map(_.getLong(0)).toSet))
    // web (budget 8): keep_best keeps 2 (8 tokens — min-id would keep 1);
    //   cum prefix: 2 fits exactly (8), 3 overflows (14) → {2}
    // books (budget 6): 5 (6 tokens, best) fits exactly; 4 overflows via
    //   the prefix (cum 9) → {5}
    // misc: default_domain_tokens 0 → dropped
    kept shouldBe Set(2L, 5L)
  }

  test("curation config validation: bad dedup strategy fails at load") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: fuzzy_wuzzy
        |    id_column: doc_id
        |    content_column: text
        |""".stripMargin
    val e = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yaml)
    e.getMessage should include("fuzzy_wuzzy")
  }

  test("quality_model drives from YAML: threshold filter + audit columns") {
    def bucket(tok: String, m: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) % m).toInt
    }
    val (bGood, bBad) = (bucket("good", 32), bucket("bad", 32))
    val yaml =
      s"""version: "1.0"
         |pipeline:
         |  name: docs
         |curation:
         |  quality_model:
         |    id_column: doc_id
         |    text_column: text
         |    n_buckets: 32
         |    bias_e6: 0
         |    min_score_e6: 100000
         |    weights_e6:
         |      $bGood: 200000
         |      $bBad: -200000
         |gold:
         |  - name: survivors
         |    group_by:
         |      - doc_id
         |    measures:
         |      - name: docs
         |        expression: count(1)
         |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.model).map(_.weightsE6) shouldBe
      Some(Map(bGood -> 200000L, bBad -> -200000L))
    val docs = Seq(
      (1L, "good good stuff"), (2L, "good bad neutral"), (3L, "bad news"))
      .toDF("doc_id", "text")
    var kept = Set.empty[Long]
    val r = Pipeline.run(spark, cfg, docs, goldSink = Some((_, df) =>
      kept = df.select("doc_id").collect().map(_.getLong(0)).toSet))
    kept shouldBe Set(1L) // 400000 ≥ 1e5; doc 2 scores 0; doc 3 negative
    r.stages.map(s => s.name -> s.rows).toMap.apply("curated") shouldBe 1L
    // config validation: weights are required and keys must be in range
    val e1 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yaml.replace("    weights_e6:\n", "    weights_x:\n"))
    e1.getMessage should include("weights_e6")
    val e2 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yaml.replace("n_buckets: 32", "n_buckets: 2"))
    e2.getMessage should include("buckets in [0, 2)")
  }

  test("semantic dedup strategy drives from YAML (embedding column)") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: vecs
        |curation:
        |  dedup:
        |    strategy: semantic
        |    id_column: id
        |    content_column: vec
        |    threshold: 0.9
        |    kmeans_k: 3
        |    kmeans_iters: 1
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.dedup).map(d => (d.kmeansK, d.kmeansIters)) shouldBe
      Some((3, 1))
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + eps * (i + 1) }
    val a = Array(1f, 0f, 0f, 2f)
    val b = Array(-1f, 3f, 0.5f, 0f)
    val vecs = Seq(
      0L -> a, 1L -> b, 2L -> Array(0f, 0f, 1f, 0f),
      3L -> jitter(a, 1e-3f), 4L -> jitter(b, 1e-3f))
      .toDF("id", "vec")
    val r = Pipeline.run(spark, cfg, vecs)
    r.stages.map(s => s.name -> s.rows).toMap.apply("curated") shouldBe 3L
  }

  test("keep_best / per-domain budget validation fails loudly at load") {
    def yamlWith(block: String) =
      s"""version: "1.0"
         |pipeline:
         |  name: docs
         |curation:
         |$block
         |""".stripMargin
    // keep_best without the survivor score
    val e1 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yamlWith(
      """  dedup:
        |    strategy: keep_best
        |    id_column: doc_id
        |    content_column: text""".stripMargin))
    e1.getMessage should include("score_column")
    // score_column on a min-id strategy would be silently ignored — refuse
    val e2 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yamlWith(
      """  dedup:
        |    strategy: exact
        |    id_column: doc_id
        |    content_column: text
        |    score_column: n_tokens""".stripMargin))
    e2.getMessage should include("keep_best")
    // kmeans knobs on a non-semantic strategy would be silently ignored
    val ek = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yamlWith(
      """  dedup:
        |    strategy: exact
        |    id_column: doc_id
        |    content_column: text
        |    kmeans_k: 64""".stripMargin))
    ek.getMessage should include("semantic")
    // global and per-domain budgets are exclusive
    val e3 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yamlWith(
      """  budget:
        |    id_column: doc_id
        |    score_column: s
        |    token_column: t
        |    max_tokens: 10
        |    domain_column: source
        |    default_domain_tokens: 5
        |    per_domain:
        |      web: 5""".stripMargin))
    e3.getMessage should include("exclusive")
    // per_domain without an explicit default for unlisted domains
    val e4 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yamlWith(
      """  budget:
        |    id_column: doc_id
        |    score_column: s
        |    token_column: t
        |    domain_column: source
        |    per_domain:
        |      web: 5""".stripMargin))
    e4.getMessage should include("default_domain_tokens")
    // domain knobs in global mode would be silently ignored — refuse
    val e5 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(yamlWith(
      """  budget:
        |    id_column: doc_id
        |    score_column: s
        |    token_column: t
        |    max_tokens: 10
        |    domain_column: source""".stripMargin))
    e5.getMessage should include("per_domain")
  }

  test("curation pii validation: unknown preset / pattern+preset fail at load") {
    def yamlWith(rule: String) =
      s"""version: "1.0"
         |pipeline:
         |  name: docs
         |curation:
         |  pii:
         |    - column: text
         |$rule
         |""".stripMargin
    val e1 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yamlWith("      preset: no_such_preset"))
    e1.getMessage should include("no_such_preset")
    val e2 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yamlWith("      preset: email\n      pattern: x"))
    e2.getMessage should include("exactly one")
  }

  test("sessions block rolls up gap sessions from config") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: ev
        |sessions:
        |  key_column: user_id
        |  ts_us_column: ts_us
        |  tie_column: event_id
        |  value_column: value
        |  gap_sec: 30
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    val events = Seq(
      (1L, "u1", 0L, 1.0), (2L, "u1", 10000000L, 2.0),   // session 1
      (3L, "u1", 100000000L, 3.0),                        // gap > 30s → session 2
      (4L, "u2", 0L, 4.0))
      .toDF("event_id", "user_id", "ts_us", "value")
    var sunk = Map.empty[String, Long]
    val r = Pipeline.run(spark, cfg, events,
      goldSink = Some((name, df) => sunk += name -> df.count()))
    r.stages.map(s => s.name -> s.rows).toMap.apply("gold.sessions") shouldBe 3L
    sunk shouldBe Map("sessions" -> 3L)
  }

  test("span_mask dedup strategy drives from YAML; knobs rejected elsewhere") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: span_mask
        |    id_column: doc_id
        |    content_column: text
        |    span_gram: 3
        |    mask_token: "<SPAN>"
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.dedup).map(d => (d.spanGram, d.maskToken)) shouldBe
      Some((3, "<SPAN>"))
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y a b c d q")) // interior copy of doc 1's "a b c d"
      .toDF("doc_id", "text")
    val r = Pipeline.run(spark, cfg, docs)
    // masking keeps every row — the curated count equals the corpus
    r.stages.map(s => s.name -> s.rows).toMap.apply("curated") shouldBe 2L
    // and the YAML stage rewrote the content column in place
    val curated = graft.text.Curation.curate(docs,
      cfg.curation.get)
    curated.orderBy("doc_id").select("text").collect().map(_.getString(0))
      .toSeq shouldBe Seq("a b c d e", "x y <SPAN> q")
    // span knobs on a removal strategy would be silently dead — refuse
    val e = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      """version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: exact
        |    id_column: doc_id
        |    content_column: text
        |    span_gram: 3
        |""".stripMargin)
    e.getMessage should include("span_mask")
  }

  test("canonical dedup strategy drives from YAML") {
    val cfg = ConfigLoader.parse(
      """version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: canonical
        |    id_column: doc_id
        |    content_column: text
        |""".stripMargin)
    cfg.curation.flatMap(_.dedup).map(_.strategy) shouldBe Some("canonical")
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "  A b,  C d E!"), // canonical dup of 1
      (3L, "x y z"))
      .toDF("doc_id", "text")
    val r = Pipeline.run(spark, cfg, docs)
    r.stages.map(s => s.name -> s.rows).toMap.apply("curated") shouldBe 2L
    graft.text.Curation.curate(docs, cfg.curation.get)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
      .toSeq shouldBe Seq(1L, 3L)
  }

  test("split block drives hash and cluster (leakage-safe) splits from YAML") {
    val base =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |split:
        |  key_column: doc_id
        |  weights:
        |    train: 80
        |    val: 10
        |    test: 10
        |""".stripMargin
    val cfg = ConfigLoader.parse(base)
    cfg.split.map(_.strategy) shouldBe Some("hash")
    // weight ORDER preserved from YAML — it is part of the bucket map
    cfg.split.get.weights shouldBe Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val docs = (0L until 50L).map(i => (i, s"tok$i a b c")).toDF("doc_id", "text")
    var sunk = Map.empty[String, Long]
    Pipeline.run(spark, cfg, docs,
      goldSink = Some((name, df) => sunk += name -> df.count()))
    sunk("split") shouldBe 50L
    // cluster strategy routes through leakageSafeSplit
    val clusterCfg = ConfigLoader.parse(
      """version: "1.0"
        |pipeline:
        |  name: docs
        |split:
        |  key_column: doc_id
        |  strategy: cluster
        |  content_column: text
        |  ngram: 2
        |  threshold: 0.5
        |  weights:
        |    train: 50
        |    test: 50
        |""".stripMargin)
    clusterCfg.split.map(_.strategy) shouldBe Some("cluster")
    val twins = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // near-dup of 1 → same split
      (3L, "one two three four five"))
      .toDF("doc_id", "text")
    var sunk2 = Map.empty[String, org.apache.spark.sql.DataFrame]
    Pipeline.run(spark, clusterCfg, twins,
      goldSink = Some((name, df) => sunk2 += name -> materialized(df)))
    val splits = sunk2("split").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    splits(1L) shouldBe splits(2L)
    // validation: bad strategy / unsummed weights / dead knobs fail at load
    the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      base.replace("key_column: doc_id",
        "key_column: doc_id\n  strategy: roulette"))
    the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      base.replace("train: 80", "train: 70"))
    the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      base.replace("key_column: doc_id",
        "key_column: doc_id\n  ngram: 3"))
    the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      """version: "1.0"
        |pipeline:
        |  name: docs
        |split:
        |  key_column: doc_id
        |  strategy: cluster
        |  weights:
        |    train: 100
        |""".stripMargin)
  }

  test("retrieval block drives hybrid lexical+semantic ranking from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |retrieval:
        |  id_column: doc_id
        |  text_column: text
        |  queries_filter: "doc_id % 2 = 0"
        |  k: 3
        |  embedding_column: vec
        |  fuse_k: 2
        |  rrf_k: 60
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.retrieval.map(r => (r.k, r.embeddingColumn, r.fuseK, r.rrfK)) shouldBe
      Some((3, Some("vec"), Some(2), Some(60L)))
    val docs = Seq(
      (0L, "spark shuffle join plan", Array(1f, 0f, 0f)),
      (1L, "spark shuffle agg stage", Array(0.9f, 0.1f, 0f)),
      (2L, "python pandas join frame", Array(0f, 1f, 0f)),
      (3L, "python pandas frame index", Array(0.1f, 0.9f, 0f)),
      (4L, "rust tokio async runtime", Array(0f, 0f, 1f)))
      .toDF("doc_id", "text", "vec")
    var sunk = Map.empty[String, DataFrame]
    val r = Pipeline.run(spark, cfg, docs,
      goldSink = Some((name, df) => sunk += name -> materialized(df)))
    // the stage must equal the hand-built q125 composition exactly
    val queries = docs.filter(expr("doc_id % 2 = 0"))
    val lex = graft.text.TextAnalysis.keywordSearchTopK(docs, queries,
      "doc_id", "text", "doc_id", "text", k = 3, excludeSelf = true)
    val sem = graft.similarity.Similarity.bruteForceTopK(docs, queries,
      "doc_id", "vec", k = 3)
    val expected = graft.similarity.Similarity.rrfFuse(Seq(lex, sem),
        k = 2, rrfK = 60L)
      .collect().map(_.toSeq).toSet
    sunk.keySet shouldBe Set("retrieval")
    sunk("retrieval").collect().map(_.toSeq).toSet shouldBe expected
    r.stages.map(s => s.name -> s.rows).toMap
      .apply("gold.retrieval") shouldBe expected.size.toLong
  }

  test("retrieval block: lexical-only when no embedding column") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |retrieval:
        |  id_column: doc_id
        |  text_column: text
        |  queries_filter: "doc_id = 0"
        |  k: 2
        |""".stripMargin
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta delta"),
      (2L, "epsilon zeta eta"))
      .toDF("doc_id", "text")
    var sunk = Map.empty[String, DataFrame]
    Pipeline.run(spark, ConfigLoader.parse(yaml), docs,
      goldSink = Some((name, df) => sunk += name -> materialized(df)))
    // doc 1 shares two terms with the query doc; doc 2 shares none
    val hits = sunk("retrieval").select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    hits shouldBe Array((0L, 1L))
  }

  test("retrieval validation fails loudly at load") {
    def yamlWith(block: String) =
      s"""version: "1.0"
         |pipeline:
         |  name: docs
         |retrieval:
         |$block
         |""".stripMargin
    val base =
      """  id_column: doc_id
        |  text_column: text
        |  queries_filter: "doc_id = 0"""".stripMargin
    // fusion knobs on a lexical-only block would be silently dead — refuse
    val e1 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yamlWith(base + "\n  fuse_k: 5"))
    e1.getMessage should include("embedding_column")
    // both df caps at once contradict the operator contract
    val e2 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yamlWith(base + "\n  max_df: 10\n  max_df_frac_e6: 500000"))
    e2.getMessage should include("not both")
    val e3 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yamlWith(base + "\n  k: 0"))
    e3.getMessage shouldBe "retrieval.k: must be >= 1, got 0"
    // queries_filter is required — a retrieval stage with no queries is
    // a config mistake, not an empty result
    val e4 = the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(
      yamlWith("""  id_column: doc_id
                 |  text_column: text""".stripMargin))
    e4.getMessage should include("queries_filter")
  }

  test("prefix dedup drives from YAML; its knobs are rejected elsewhere") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: prefix
        |    id_column: doc_id
        |    content_column: text
        |    prefix_len: 6
        |gold:
        |  - name: survivors
        |    group_by:
        |      - doc_id
        |    measures:
        |      - name: docs
        |        expression: count(1)
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.dedup).map(_.prefixLen) shouldBe Some(6)
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta"),           // strict prefix of 1 → dropped
      (3L, "alpha bxx unrelated"))  // shares 6 chars, diverges → kept
      .toDF("doc_id", "text")
    var kept = Set.empty[Long]
    Pipeline.run(spark, cfg, docs, goldSink = Some((_, df) =>
      kept = df.select("doc_id").collect().map(_.getLong(0)).toSet))
    kept shouldBe Set(1L, 3L)
    // the prefix knobs on another strategy fail at load, not silently
    val bad = yaml.replace("strategy: prefix", "strategy: exact")
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(bad)
  }

  test("gold rollup: config-driven multi-level mart with gid; incremental refusal") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: rollup_mart
        |gold:
        |  - name: levels
        |    rollup: true
        |    group_by:
        |      - src
        |      - lang
        |    measures:
        |      - name: docs
        |        expression: count(1)
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    val model = cfg.gold.head
    model.rollup shouldBe true
    val docs = Seq(("web", "en"), ("web", "de"), ("books", "en"))
      .toDF("src", "lang")
    val mart = graft.gold.AggregationEngine.build(docs, model)
    val byGid = mart.collect().groupBy(_.getAs[Long]("gid"))
    byGid(0L).length shouldBe 3  // detail rows
    byGid(1L).length shouldBe 2  // per-src subtotals
    byGid(3L).map(_.getAs[Long]("docs")).toSeq shouldBe Seq(3L) // grand total
    // grouping sets share key tuples → incremental MERGE keys collide;
    // refresh refuses rather than corrupting subtotal levels
    an[IllegalArgumentException] should be thrownBy
      graft.gold.IncrementalMaterializer.refresh(
        docs, Some(mart), model, "src", "src", 1)
    // rollup+cube on one model is contradictory, caught at build
    an[IllegalArgumentException] should be thrownBy
      graft.gold.AggregationEngine.build(docs, model.copy(cube = true))
  }

  test("quality fd_checks: config-driven dependency contract in the report") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: fd
        |quality:
        |  fd_checks:
        |    - lhs:
        |        - zone
        |      rhs: zone_name
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.fdChecks shouldBe Seq(graft.config.FdCheck(Seq("zone"), "zone_name"))
    val df = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "B"))
      .toDF("zone", "zone_name")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val fd = report.checkResults.find(_.check == "fd_check").get
    fd.column shouldBe "zone->zone_name"
    fd.failedCount shouldBe 1L // zone 2 maps to two names
    fd.passed shouldBe false
    // missing column fails loudly, not silently green
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("zone_name"), cfg.quality)
  }

  test("quality monitoring checks (benford/seasonal/correlation) drive from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: monitoring
        |quality:
        |  benford_checks:
        |    - {column: amount, max_chi2_e6: 1000000}
        |  seasonal_checks:
        |    - {group_by: [kind], ts_column: ts, value_column: amount,
        |       period: 7, max_abs_z_e6: 2500000}
        |  correlation_checks:
        |    - {type_column: kind, ts_column: ts, value_column: amount,
        |       min_abs_corr_e6: 990000}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.benfordChecks shouldBe
      Seq(graft.config.BenfordCheck("amount", 1000000L))
    cfg.quality.seasonalChecks.head.period shouldBe 7
    cfg.quality.correlationChecks.head.minAbsCorrE6 shouldBe 990000L
    // two metric kinds moving in exact lockstep over 21 days, with a
    // uniform (maximally non-Benford) digit profile
    val day = 86400000000000L
    val rows = (0L until 21L).flatMap { d =>
      Seq(("a", d * day, 1000.0 + d * 111), ("b", d * day, 2000.0 + d * 222))
    }
    val df = rows.toDF("kind", "ts", "amount")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byKind = report.checkResults.groupBy(_.check)
    // uniform-ish digits: at this tight χ² cap at least one digit flags
    byKind("benford_check").head.failedCount should be > 0L
    // a clean linear-trend series: no day breaks its slot baseline at 2.5σ
    byKind("seasonal_check").head.failedCount shouldBe 0L
    // perfect linear co-movement: the (a, b) pair is at |corr| = 1
    byKind("correlation_check").head.failedCount shouldBe 1L
    // missing column fails loudly, never silently green
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("kind"), cfg.quality)
  }

  test("quality hhi_checks / pop_checks drive from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: concentration
        |quality:
        |  hhi_checks:
        |    - {group_by: [kind], category_column: user, max_hhi_e6: 500000}
        |    - {category_column: user, max_hhi_e6: 990000}
        |  pop_checks:
        |    - {type_column: kind, ts_column: ts, value_column: amount,
        |       period_days: 1, max_drop_e6: 400000}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.hhiChecks shouldBe Seq(
      graft.config.HhiCheck(Seq("kind"), "user", 500000L),
      graft.config.HhiCheck(Nil, "user", 990000L))
    cfg.quality.popChecks.head.maxDropE6 shouldBe 400000L
    val day = 86400000000000L
    val rows =
      // kind a: one bot user (HHI 1e6 > cap); steady mass
      Seq(("a", "bot", 0L * day, 100.0), ("a", "bot", 1L * day, 100.0),
        ("a", "bot", 2L * day, 100.0)) ++
      // kind b: spread users; day 2 drops 50% > the 40% cap
      Seq(("b", "u1", 0L * day, 100.0), ("b", "u2", 0L * day, 100.0),
        ("b", "u3", 1L * day, 100.0), ("b", "u4", 1L * day, 100.0),
        ("b", "u5", 2L * day, 100.0))
    val df = rows.toDF("kind", "user", "ts", "amount")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byKind = report.checkResults.groupBy(_.check)
    // grouped form: only kind a's user concentration breaches 0.5
    byKind("hhi_check").map(c => c.column -> c.failedCount).toMap shouldBe
      Map("user by kind" -> 1L, "user" -> 0L) // global never hits 0.99
    // kind b: 200 -> 200 (flat, fine) -> 100 (-50% < -40%): one cell;
    // kind a is flat and never flags
    byKind("pop_check").head.failedCount shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("user"), cfg.quality)
  }

  test("quality quantile_checks drive from YAML off the histogram mart") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: latency
        |quality:
        |  quantile_checks:
        |    - {group_by: [kind], value_column: ms, bin_width: 10,
        |       q_e6: 900000, max_value: 100}
        |    - {value_column: ms, bin_width: 10, min_value: 10}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.quantileChecks shouldBe Seq(
      graft.config.QuantileCheck(Seq("kind"), "ms", 10L, 900000L,
        None, Some(100L)),
      graft.config.QuantileCheck(Nil, "ms", 10L, 500000L, Some(10L), None))
    // kind a: p90 of 0..99 lands in bin 8 (lo 80 <= 100 - passes);
    // kind b: constant 250 -> p90 bin_lo 250 > 100 - fails.
    // global p50 of the union is well above the min_value 10 - passes.
    val rows = (0L until 100L).map(v => ("a", v)) ++
      (0L until 50L).map(_ => ("b", 250L))
    val df = rows.toDF("kind", "ms")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byLabel = report.checkResults.filter(_.check == "quantile_check")
      .map(c => c.column -> c.failedCount).toMap
    byLabel shouldBe Map("ms@q900000 by kind" -> 1L, "ms@q500000" -> 0L)
    // missing column fails loudly; boundless check fails at load
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("ms"), cfg.quality)
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace(", max_value: 100", "").replace(", min_value: 10", ""))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("bin_width: 10,\n       q_e6: 900000", "q_e6: 900000"))
  }

  test("quality distinct_checks drive from YAML off KMV sketches") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: cardinality
        |quality:
        |  distinct_checks:
        |    - {group_by: [kind], item_column: user, k: 64, min_count: 3}
        |    - {item_column: user, k: 64, max_count: 4}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.distinctChecks shouldBe Seq(
      graft.config.DistinctCheck(Seq("kind"), "user", 64, Some(3L), None),
      graft.config.DistinctCheck(Nil, "user", 64, None, Some(4L)))
    // kind a: 5 distinct users (>= 3, passes); kind b: 2 (< 3, fails).
    // global: 6 distinct users > 4 — fails. k=64 > n keeps every
    // estimate EXACT, so the counts are deterministic.
    val rows = (1 to 5).map(i => ("a", s"u$i")) ++
      Seq(("b", "u1"), ("b", "x1"), ("b", "x1"))
    val df = rows.toDF("kind", "user")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byLabel = report.checkResults.filter(_.check == "distinct_check")
      .map(c => c.column -> c.failedCount).toMap
    byLabel shouldBe Map(
      "distinct(user)@k64 by kind" -> 1L, "distinct(user)@k64" -> 1L)
    // missing column fails loudly; boundless or degenerate-k fail at load
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("user"), cfg.quality)
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace(", min_count: 3", "").replace(", max_count: 4", ""))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("k: 64, max_count: 4", "k: 1, max_count: 4"))
    // a min_count check must NEVER pass vacuously: an all-NULL item
    // column estimates 0 per group (empty sketch), and an empty frame
    // counts as one failure — the cardinality collapse the lower bound
    // exists to catch
    val allNull = Seq(("a", null: String), ("b", null: String))
      .toDF("kind", "user")
    val nullReport = graft.quality.Orchestrator.run(allNull, cfg.quality)
    nullReport.checkResults.filter(_.check == "distinct_check")
      .map(c => c.column -> c.failedCount).toMap shouldBe Map(
      "distinct(user)@k64 by kind" -> 2L, "distinct(user)@k64" -> 0L)
    val emptyReport = graft.quality.Orchestrator.run(
      allNull.filter("false"), cfg.quality)
    emptyReport.checkResults.filter(_.check == "distinct_check")
      .map(c => c.column -> c.failedCount).toMap shouldBe Map(
      // min_count over zero groups = one failure; a max_count-only
      // check has nothing to exceed and legitimately passes
      "distinct(user)@k64 by kind" -> 1L, "distinct(user)@k64" -> 0L)
  }

  test("quality overlap_checks drive from YAML off KMV sketch pairs") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: contamination
        |quality:
        |  overlap_checks:
        |    - {type_column: split, item_column: user, k: 128,
        |       max_jaccard_e6: 300000}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.overlapChecks shouldBe Seq(
      graft.config.OverlapCheck("split", "user", 128, 300000L))
    // train∩eval = 30 of 70 (jaccard ~0.43 > 0.3 → the ONE failing
    // pair); holdout is disjoint from both (jaccard 0). k=128 covers
    // every union, so the estimates are exact and deterministic.
    val rows = (1 to 50).map(i => ("train", s"u$i")) ++
      (21 to 70).map(i => ("eval", s"u$i")) ++
      (1000 to 1020).map(i => ("holdout", s"u$i"))
    val df = rows.toDF("split", "user")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byLabel = report.checkResults.filter(_.check == "overlap_check")
      .map(c => c.column -> c.failedCount).toMap
    byLabel shouldBe Map("split/user@k128" -> 1L)
    // missing column fails loudly; degenerate thresholds fail at load
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("user"), cfg.quality)
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("max_jaccard_e6: 300000", "max_jaccard_e6: 1000000"))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("k: 128,", "k: 1,"))
  }

  test("quality containment_checks drive the decontamination gate from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: decontamination
        |quality:
        |  containment_checks:
        |    - {a_type_column: split, b_type_column: split,
        |       item_column: user, a_filter: "split like 'eval%'",
        |       b_filter: "split not like 'eval%'", k: 128,
        |       max_containment_e6: 500000}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.containmentChecks shouldBe Seq(
      graft.config.ContainmentCheck("split", "split", "user",
        Some("split like 'eval%'"), Some("split not like 'eval%'"),
        128, 500000L))
    // eval_a = {u1..u8, u900, u901}: 8 of its 10 users sit inside train
    // {u1..u50} → containment 0.8 > 0.5 (the ONE failing pair: eval_a ×
    // train); eval_b = {u100..u109} is disjoint from train (containment
    // 0). k=128 covers every union, so estimates are exact/deterministic.
    val all = (1 to 50).map(i => ("train", s"u$i")) ++
      (1 to 8).map(i => ("eval_a", s"u$i")) ++
      Seq(("eval_a", "u900"), ("eval_a", "u901")) ++
      (100 to 109).map(i => ("eval_b", s"u$i"))
    val df = all.toDF("split", "user")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byLabel = report.checkResults
      .filter(_.check == "containment_check")
      .map(c => c.column -> c.failedCount).toMap
    byLabel shouldBe Map("split in split/user@k128" -> 1L)
    // same-column gate without filters excludes self pairs: every split
    // is fully contained in itself, which must NOT count as a leak
    val cfgAll = ConfigLoader.parse(yaml
      .replace(" a_filter: \"split like 'eval%'\",", "")
      .replace(" b_filter: \"split not like 'eval%'\",", ""))
    cfgAll.quality.containmentChecks.head.aFilter shouldBe None
    val allPairs = graft.quality.Orchestrator.run(df, cfgAll.quality)
      .checkResults.filter(_.check == "containment_check").head
    // eval_a⊂train (0.8) fails; self pairs excluded; train-in-eval_a
    // (8/50 = 0.16), eval_b pairs (0) pass
    allPairs.failedCount shouldBe 1L
    // missing column fails loudly; degenerate thresholds fail at load
    an[Exception] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("user"), cfg.quality)
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("max_containment_e6: 500000",
        "max_containment_e6: 1000000000"))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("k: 128,", "k: 1,"))
    // same grouping column with DISJOINT filters: the same-NAME pair
    // (eval lang=en inside train lang=en) is the primary leak contract
    // and must NOT be dropped as a "self pair" (r19 self-review finding)
    val yaml2 =
      """version: "1.0"
        |pipeline:
        |  name: decontamination2
        |quality:
        |  containment_checks:
        |    - {a_type_column: lang, b_type_column: lang,
        |       item_column: user, a_filter: "ds = 'eval'",
        |       b_filter: "ds = 'train'", k: 128,
        |       max_containment_e6: 500000}
        |""".stripMargin
    val rows2 = (1 to 40).map(i => ("en", "train", s"u$i")) ++
      (1 to 10).map(i => ("en", "eval", s"u$i")) ++ // 100% inside train
      (1 to 10).map(i => ("fr", "eval", s"f$i")) // disjoint from train
    val df2 = rows2.toDF("lang", "ds", "user")
    graft.quality.Orchestrator.run(df2, ConfigLoader.parse(yaml2).quality)
      .checkResults.filter(_.check == "containment_check")
      .head.failedCount shouldBe 1L // en-eval ⊂ en-train; fr pairs pass
  }

  test("quality growth_checks flag novelty collapse from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: novelty
        |quality:
        |  growth_checks:
        |    - {day_column: day, item_column: user, k: 128,
        |       min_new_per_day: 5, warmup_days: 1}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.growthChecks shouldBe Seq(
      graft.config.GrowthCheck("day", "user", 128, 5L, 1))
    // day 1: 50 users (warmup, never counted); day 2: +10 new (passes);
    // day 3: all repeats, +0 new (THE failure); day 4: +6 new (passes).
    // k=128 covers every prefix → estimates exact → deterministic.
    val rows = (1 to 50).map(i => (1L, s"u$i")) ++
      ((1 to 20).map(i => (2L, s"u$i")) ++
        (51 to 60).map(i => (2L, s"u$i"))) ++
      (1 to 30).map(i => (3L, s"u$i")) ++
      (61 to 66).map(i => (4L, s"u$i"))
    val df = rows.toDF("day", "user")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byLabel = report.checkResults.filter(_.check == "growth_check")
      .map(c => c.column -> c.failedCount).toMap
    byLabel shouldBe Map("growth(user)@k128 by day" -> 1L)
    // warmup shields the bootstrap day even when the floor is huge
    val cfgHuge = ConfigLoader.parse(
      yaml.replace("min_new_per_day: 5", "min_new_per_day: 7"))
    graft.quality.Orchestrator.run(df, cfgHuge.quality)
      .checkResults.filter(_.check == "growth_check")
      .head.failedCount shouldBe 2L // day 3 (0) and day 4 (6) under 7
    // missing column fails loudly; degenerate configs fail at load
    an[Exception] should be thrownBy
      graft.quality.Orchestrator.run(df.drop("user"), cfg.quality)
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("warmup_days: 1", "warmup_days: 0"))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("k: 128,", "k: 1,"))
    // a SILENT day must fire the gate, not vanish: days 1, 2, 4 — the
    // absent day 3 synthesizes est_new = 0 < 5 (r19 self-review
    // finding). Failures: day 3 (silent) only; day 2 adds 10, day 4
    // adds 6... with floor 5 day 4 passes.
    val gappy = (1 to 50).map(i => (1L, s"u$i")) ++
      (41 to 50).map(i => (2L, s"v$i")) ++
      (1 to 6).map(i => (4L, s"w$i"))
    graft.quality.Orchestrator.run(gappy.toDF("day", "user"), cfg.quality)
      .checkResults.filter(_.check == "growth_check")
      .head.failedCount shouldBe 1L
    // non-integral day column raises loudly (silent-day synthesis
    // needs day arithmetic)
    an[IllegalArgumentException] should be thrownBy
      graft.quality.Orchestrator.run(
        df.withColumn("day", expr("CAST(day AS STRING)")), cfg.quality)
  }

  test("quality ks_checks flag distribution drift between type pairs from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: drift
        |quality:
        |  ks_checks:
        |    - {type_column: variant, id_column: rid, value_column: v,
        |       k: 128, max_ks_e6: 400000}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.quality.ksChecks shouldBe Seq(
      graft.config.KsCheck("variant", "rid", "v", 128, 400000L))
    // a and b share a distribution (identical value multisets); c is
    // fully disjoint in range → D(a,c) = D(b,c) = 1.0 > 0.4 fail,
    // D(a,b) = 0 pass. k=128 holds every sample whole → exact.
    val rows = (1 to 60).map(i => ("a", s"a$i", (i % 20).toLong)) ++
      (1 to 60).map(i => ("b", s"b$i", (i % 20).toLong)) ++
      (1 to 60).map(i => ("c", s"c$i", 1000L + i % 20))
    val df = rows.toDF("variant", "rid", "v")
    val report = graft.quality.Orchestrator.run(df, cfg.quality)
    val byLabel = report.checkResults.filter(_.check == "ks_check")
      .map(c => c.column -> c.failedCount).toMap
    byLabel shouldBe Map("variant/v@k128" -> 2L)
    // non-integral value column raises loudly (micro-unit convention);
    // degenerate caps fail at load
    an[Exception] should be thrownBy graft.quality.Orchestrator.run(
      df.withColumn("v", expr("CAST(v AS DOUBLE)")), cfg.quality)
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("max_ks_e6: 400000", "max_ks_e6: 1000000"))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("k: 128,", "k: 1,"))
    // mass_column switches the gate to the MASS-weighted statistic
    // (wks_e6 under the same cap, the label marking the weighting);
    // unit masses degenerate to the unweighted counts exactly
    val cfgW = ConfigLoader.parse(yaml.replace(
      "value_column: v,", "value_column: v, mass_column: m,"))
    cfgW.quality.ksChecks.head.massColumn shouldBe Some("m")
    val reportW = graft.quality.Orchestrator.run(
      df.withColumn("m", expr("CAST(1 AS BIGINT)")), cfgW.quality)
    reportW.checkResults.filter(_.check == "ks_check")
      .map(c => c.column -> c.failedCount) shouldBe
      Seq("variant/v*m@k128" -> 2L)
    // a weighted spec with a missing or non-integral mass column raises
    an[Exception] should be thrownBy graft.quality.Orchestrator.run(
      df, cfgW.quality)
    an[Exception] should be thrownBy graft.quality.Orchestrator.run(
      df.withColumn("m", expr("CAST(1.5 AS DOUBLE)")), cfgW.quality)
  }

  test("layout block: rendezvous shard plan drives from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: sharding
        |layout:
        |  key_column: doc_id
        |  n_shards: 10
        |  previous_n_shards: 8
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.layout shouldBe Some(graft.config.LayoutSpec("doc_id", 10, Some(8)))
    val docs = (0L until 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    var sunk = Map.empty[String, org.apache.spark.sql.DataFrame]
    val r = graft.Pipeline.run(spark, cfg, docs,
      goldSink = Some((name, df) => sunk += name -> materialized(df)))
    // the config-driven plan equals the hand-built operator call
    val plan = sunk("layout_plan").orderBy("shard_from", "shard_to")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
    plan shouldBe graft.maintenance.Layout
      .reshardReport(docs, "doc_id", 8, 10)
      .orderBy("shard_from", "shard_to")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2))
    // moved mass only lands on the added shards
    plan.filter { case ((f, t), _) => f != t }
      .forall { case ((_, t), _) => t >= 8L } shouldBe true
    r.stages.map(_.name) should contain("gold.layout_plan")
    // balance form (no previous): one row per shard, counts sum to rows
    val cfg2 = ConfigLoader.parse(yaml.replace(
      "  previous_n_shards: 8\n", ""))
    var sunk2 = Map.empty[String, org.apache.spark.sql.DataFrame]
    graft.Pipeline.run(spark, cfg2, docs,
      goldSink = Some((name, df) => sunk2 += name -> materialized(df)))
    val bal = sunk2("layout_plan").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    bal.keySet shouldBe (0L until 10L).toSet
    bal.values.sum shouldBe 300L
    // zero-key shards still get a row (the clearest imbalance signal):
    // 2 keys over 10 shards → at least 8 explicit zero rows
    var sunk3 = Map.empty[String, org.apache.spark.sql.DataFrame]
    graft.Pipeline.run(spark, cfg2, docs.limit(2),
      goldSink = Some((name, df) => sunk3 += name -> materialized(df)))
    val bal3 = sunk3("layout_plan").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    bal3.keySet shouldBe (0L until 10L).toSet
    bal3.values.sum shouldBe 2L
    bal3.values.count(_ == 0L) should be >= 8
    // degenerate configs fail at load; missing key fails loudly at run,
    // before any stage (here a gold mart ahead of layout) is sunk
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("previous_n_shards: 8", "previous_n_shards: 10"))
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(
      yaml.replace("  n_shards: 10\n", ""))
    an[IllegalArgumentException] should be thrownBy graft.Pipeline.run(
      spark, cfg, docs.withColumnRenamed("doc_id", "other"), None)
    val withGold = ConfigLoader.parse(yaml +
      "gold:\n  - name: by_text\n    group_by: [text]\n" +
      "    measures:\n      - {name: n, expression: \"count(1)\"}\n")
    var sunkNames = Seq.empty[String]
    val e = the[IllegalArgumentException] thrownBy graft.Pipeline.run(
      spark, withGold, docs.withColumnRenamed("doc_id", "other"),
      goldSink = Some((name, df) => { df.collect(); sunkNames :+= name }))
    e.getMessage should include("layout: missing columns doc_id")
    sunkNames shouldBe empty
  }

  test("features block: hash_text and target_encode drive from YAML") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: feats
        |silver:
        |  derived_columns:
        |    - {name: y_e2, expression: "cast(round(score * 100) as long)"}
        |features:
        |  id_column: doc_id
        |  hash_text: {text_column: text, n_buckets: 16}
        |  target_encode: {category_column: lang, target_column: y_e2, m: 10}
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.features.get.hashText.get.nBuckets shouldBe 16
    cfg.features.get.targetEncode.get.m shouldBe 10
    val docs = Seq(
      (1L, "alpha beta", "en", 1.0), (2L, "beta gamma", "en", 2.0),
      (3L, "alpha", "de", 3.0))
      .toDF("doc_id", "text", "lang", "score")
    var sunk = Map.empty[String, org.apache.spark.sql.DataFrame]
    val r = graft.Pipeline.run(spark, cfg, docs,
      goldSink = Some((name, df) => sunk += name -> materialized(df)))
    // the config-driven tables equal the hand-built operator calls
    val silver = docs.withColumn("y_e2",
      expr("cast(round(score * 100) as long)"))
    sunk("features_hash").orderBy("id", "bucket").collect() shouldBe
      graft.ops.Features.hashFeatures(silver, "doc_id", "text", 16)
        .orderBy("id", "bucket").collect()
    sunk("features_target").orderBy("id").collect() shouldBe
      graft.ops.Features.targetEncodeLoo(silver, "doc_id", "lang", "y_e2")
        .orderBy("id").collect()
    r.stages.map(_.name) should contain allOf
      ("gold.features_hash", "gold.features_target")
    // missing column fails loudly, before any feature table is sunk
    an[IllegalArgumentException] should be thrownBy
      graft.Pipeline.run(spark, cfg, docs.drop("lang"))
    var sunkNames = Seq.empty[String]
    val e = the[IllegalArgumentException] thrownBy graft.Pipeline.run(
      spark, cfg, docs.drop("lang"),
      goldSink = Some((name, df) => { df.collect(); sunkNames :+= name }))
    e.getMessage should include("features.target_encode: missing columns lang")
    sunkNames shouldBe empty
    // an empty features block is a config error
    an[IllegalArgumentException] should be thrownBy ConfigLoader.parse(
      "version: \"1.0\"\npipeline:\n  name: x\nfeatures:\n  id_column: a\n")
  }

  test("winnow dedup strategy drives from YAML; knobs scoped to it") {
    val yaml =
      """version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: winnow
        |    id_column: doc_id
        |    content_column: text
        |    ngram: 3
        |    winnow_window: 4
        |    min_shared_fingerprints: 1
        |gold:
        |  - name: survivors
        |    group_by:
        |      - doc_id
        |    measures:
        |      - name: docs
        |        expression: count(1)
        |""".stripMargin
    val cfg = ConfigLoader.parse(yaml)
    cfg.curation.flatMap(_.dedup).map(_.winnowWindow) shouldBe Some(4)
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"$run one two"),
      (2L, s"three four $run"), // shares the 6-token run with 1 - dropped
      (3L, "entirely different content lives in this one"))
      .toDF("doc_id", "text")
    var kept = Set.empty[Long]
    Pipeline.run(spark, cfg, docs, goldSink = Some((_, df) =>
      kept = df.select("doc_id").collect().map(_.getLong(0)).toSet))
    kept shouldBe Set(1L, 3L)
    // winnow knobs on another strategy fail at load
    val bad = yaml.replace("strategy: winnow", "strategy: exact")
    an[ConfigLoader.ConfigError] should be thrownBy ConfigLoader.parse(bad)
  }

  test("winnow_jaccard strategy: verified clusters from YAML ≡ ngram_jaccard") {
    def yaml(strategy: String) =
      s"""version: "1.0"
        |pipeline:
        |  name: docs
        |curation:
        |  dedup:
        |    strategy: $strategy
        |    id_column: doc_id
        |    content_column: text
        |    ngram: 3
        |    threshold: 0.5
        |${if (strategy == "winnow_jaccard")
          "    winnow_window: 4\n    min_shared_fingerprints: 1\n" else ""}gold:
        |  - name: survivors
        |    group_by:
        |      - doc_id
        |    measures:
        |      - name: docs
        |        expression: count(1)
        |""".stripMargin
    // near-dups share LONG runs (one substituted middle token in a
    // 12-token base) → the winnow candidates find every qualifying pair
    // and the verified output must equal the full-index strategy's
    val base = (1 to 12).map(i => s"tok$i")
    val docs = (0L until 12L).map { i =>
      if (i % 2 == 0)
        (i, (base.take(7) ++ Seq(s"mid$i") ++ base.drop(8)).mkString(" "))
      else (i, (1 to 12).map(j => s"only${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    def surviving(strategy: String): Set[Long] = {
      var kept = Set.empty[Long]
      Pipeline.run(spark, ConfigLoader.parse(yaml(strategy)), docs,
        goldSink = Some((_, df) =>
          kept = df.select("doc_id").collect().map(_.getLong(0)).toSet))
      kept
    }
    val winnow = surviving("winnow_jaccard")
    winnow shouldBe surviving("ngram_jaccard")
    winnow shouldBe (Set(0L) ++ (1L until 12L by 2)) // evens cluster to 0
  }
}
