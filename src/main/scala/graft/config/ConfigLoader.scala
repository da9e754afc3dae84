package graft.config

import java.util.{List => JList, Map => JMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.yaml.snakeyaml.Yaml

/** YAML pipeline-config loader — the Scala equivalent of the reference's
  * config machinery (src/config_loader.py, src/enhanced_config_loader.py:
  * 74-138, src/environment_config_manager.py:92-177, src/config_validator.py):
  * base YAML + environment-overlay deep-merge + `${VAR}` env expansion +
  * structural validation with clear errors.
  *
  * Parsed with snakeyaml into plain maps and mapped to the case-class model
  * explicitly (no reflection/data-binding) through one path-aware reader,
  * `Node`: a wrong type, a non-number or an Int overflow fails naming its
  * dotted key (`quality.range_checks[0].min: expected a number, got 'x'`),
  * and an absent optional key takes its case-class default. A key its block
  * never reads fails when it is a near miss of one the block does read
  * (`curation.dedup.thresold: unknown key; did you mean threshold?`); keys far
  * from every read key pass through harmlessly — the reference's
  * forward-compat posture.
  */
object ConfigLoader {

  final case class SourceSpec(
      sourceType: String, // http|file|s3|postgres|mysql|api|kafka
      path: String,
      format: String = "parquet") // parquet|csv

  final case class BronzeSpec(
      source: SourceSpec,
      targetPath: String,
      mode: String = "overwrite", // append|overwrite
      partitionBy: Seq[String] = Nil,
      dropAllNullColumns: Boolean = true,
      addIngestionMetadata: Boolean = true)

  final case class PipelineConfig(
      version: String,
      name: String,
      bronze: Option[BronzeSpec],
      silver: SilverSpec,
      gold: Seq[GoldModel],
      quality: QualitySpec,
      performance: PerformanceSpec = PerformanceSpec(),
      cacheSilver: Boolean = false,
      curation: Option[CurationSpec] = None,
      sessions: Option[SessionSpec] = None,
      retrieval: Option[RetrievalSpec] = None,
      split: Option[SplitSpec] = None,
      features: Option[FeaturesSpec] = None,
      layout: Option[LayoutSpec] = None)

  val allowedSourceTypes: Set[String] =
    Set("http", "file", "s3", "postgres", "mysql", "api", "kafka")

  private val versionPattern = "^v?[0-9]+\\.[0-9]+.*$".r

  final class ConfigError(msg: String) extends IllegalArgumentException(msg)

  /** `${VAR}` / `${VAR:-default}` expansion (environment_config_manager.py:
    * 149-177). Unset without default → error, matching the reference. */
  private[config] def expandVars(s: String, env: Map[String, String]): String = {
    val re = "\\$\\{([A-Za-z_][A-Za-z0-9_]*)(?::-([^}]*))?\\}".r
    re.replaceAllIn(s, m => {
      val name = m.group(1)
      val default = Option(m.group(2))
      env.get(name).orElse(default).getOrElse(
        throw new ConfigError(s"environment variable $name is not set " +
          s"and has no default (at '${m.matched}')"))
        .replace("\\", "\\\\").replace("$", "\\$")
    })
  }

  /** Recursive deep-merge: overlay wins on scalars/lists, merges on maps
    * (environment_config_manager.py:92-147). */
  private[config] def deepMerge(base: Any, overlay: Any): Any = (base, overlay) match {
    case (b: JMap[_, _], o: JMap[_, _]) =>
      val bm = b.asInstanceOf[JMap[String, Any]].asScala
      val om = o.asInstanceOf[JMap[String, Any]].asScala
      val merged = new java.util.LinkedHashMap[String, Any]()
      (bm.keys ++ om.keys).toSeq.distinct.foreach { k =>
        merged.put(k, (bm.get(k), om.get(k)) match {
          case (Some(bv), Some(ov)) => deepMerge(bv, ov)
          case (Some(bv), None) => bv
          case (None, Some(ov)) => ov
          case _ => null
        })
      }
      merged
    case (_, o) => o
  }

  def parse(yaml: String, overlayYaml: Option[String] = None,
      env: Map[String, String] = sys.env): PipelineConfig = {
    val y = new Yaml()
    val base = y.load[Any](expandVars(yaml, env))
    fromTree(overlayYaml.fold(base)(o =>
      deepMerge(base, y.load[Any](expandVars(o, env)))))
  }

  def load(path: String, overlayPath: Option[String] = None): PipelineConfig = {
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    parse(read(path), overlayPath.map(read))
  }

  // ---- tree → case classes ---------------------------------------------

  /** One YAML mapping at dotted `path` ("" for the root). Every read records
    * its key, present or not, so `decode` can name an unread near miss. */
  private final class Node(path: String, value: Any) {
    private val where = if (path.isEmpty) "<root>" else path
    private val entries: Seq[(String, Any)] = value match {
      case m: JMap[_, _] => m.asScala.toSeq.map { case (k, v) => String.valueOf(k) -> v }
      case other => fail(s"expected a mapping, got '$other'")
    }
    private val values = entries.toMap
    private val asked = mutable.LinkedHashSet.empty[String]

    private def at(k: String): String = if (path.isEmpty) k else s"$path.$k"
    def fail(msg: String): Nothing = throw new ConfigError(s"$where: $msg")
    def fail(k: String, msg: String): Nothing = throw new ConfigError(s"${at(k)}: $msg")
    def missing(k: String): Nothing = fail(s"required key '$k' is missing")

    private def get(k: String): Option[Any] = { asked += k; values.get(k) }
    def has(k: String): Boolean = get(k).nonEmpty

    private def number[T](k: String, expected: String, read: String => T): Option[T] =
      get(k).map(v => (v match {
        case _: Number | _: String => Try(read(String.valueOf(v))).toOption
        case _ => None
      }).getOrElse(fail(k, s"expected $expected, got '$v'")))

    def int(k: String): Option[Int] = number(k, "an integer", _.toInt)
    def long(k: String): Option[Long] = number(k, "an integer", _.toLong)
    def double(k: String): Option[Double] = number(k, "a number", _.toDouble)
    def bool(k: String): Option[Boolean] = get(k).map {
      case b: java.lang.Boolean => b.booleanValue
      case v => fail(k, s"expected true or false, got '$v'")
    }
    def optStr(k: String): Option[String] = get(k).map {
      case s: String => s
      case v => fail(k, s"expected a string, got '$v'")
    }
    def str(k: String): String = optStr(k).getOrElse(missing(k))

    // optional reads that fall back to the caller's case-class default
    def int(k: String, dflt: Int): Int = int(k).getOrElse(dflt)
    def long(k: String, dflt: Long): Long = long(k).getOrElse(dflt)
    def double(k: String, dflt: Double): Double = double(k).getOrElse(dflt)
    def bool(k: String, dflt: Boolean): Boolean = bool(k).getOrElse(dflt)
    def str(k: String, dflt: String): String = optStr(k).getOrElse(dflt)

    /** A list's entries keyed `k[i]`; absent or empty is Nil. */
    private def list(k: String): Seq[(String, Any)] = get(k) match {
      case Some(l: JList[_]) =>
        l.asScala.toSeq.zipWithIndex.map { case (v, i) => s"$k[$i]" -> v }
      case None | Some(null) => Nil
      case Some(v) => fail(k, s"expected a list, got '$v'")
    }
    def strs(k: String): Seq[String] = list(k).map {
      case (ki, v @ (null | _: JMap[_, _] | _: JList[_])) =>
        fail(ki, s"expected a string, got '$v'")
      case (_, v) => String.valueOf(v)
    }
    def block[T](k: String)(read: Node => T): Option[T] =
      get(k).map(decode(at(k), _)(read))
    def blocks[T](k: String)(read: Node => T): Seq[T] =
      list(k).map { case (ki, v) => decode(at(ki), v)(read) }

    /** A mapping whose keys are user data (renamed columns, domains, split
      * names, buckets), in YAML order, each value read by `read`. Its keys
      * are not checked for typos. */
    def pairs[V](k: String)(read: (Node, String) => Option[V]): Seq[(String, V)] =
      get(k).fold(Seq.empty[(String, V)]) { v =>
        val n = new Node(at(k), v)
        n.entries.map { case (key, _) => key -> read(n, key).get }
      }

    /** Fail on the first unread key within edit distance 2 of a read one
      * (1 when either key is under 4 characters). */
    def checkTypos(): Unit = entries.foreach { case (k, _) =>
      if (!asked(k)) {
        val near = asked.toSeq.map(a => a -> editDistance(k, a)).filter {
          case (a, d) => d <= (if (math.min(k.length, a.length) < 4) 1 else 2)
        }
        if (near.nonEmpty)
          fail(k, s"unknown key; did you mean ${near.minBy(_._2)._1}?")
      }
    }
  }

  private def decode[T](path: String, value: Any)(read: Node => T): T = {
    val n = new Node(path, value)
    val t = read(n)
    n.checkTypos()
    t
  }

  private def editDistance(a: String, b: String): Int = {
    var prev = Array.range(0, b.length + 1)
    for (i <- 1 to a.length) {
      val cur = Array.fill(b.length + 1)(i)
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(prev(j), cur(j - 1)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  /** Dedup keys that only some strategies read (`Curation.applyDedup`):
    * set under any other strategy they would be silently ignored, so they
    * fail instead. */
  private val dedupKeysOnlyFor: Seq[(Set[String], Seq[String])] = Seq(
    Set("ngram_jaccard", "minhash_lsh", "embedding_lsh", "semantic",
      "winnow_jaccard", "keep_best") -> Seq("threshold"),
    Set("ngram_jaccard", "minhash_lsh", "winnow", "winnow_jaccard",
      "keep_best") -> Seq("ngram"),
    Set("ngram_jaccard", "winnow", "winnow_jaccard", "keep_best") ->
      Seq("max_shingle_freq"),
    Set("minhash_lsh") -> Seq("num_hashes", "num_bands"),
    Set("simhash") -> Seq("max_hamming"),
    Set("embedding_lsh") -> Seq("num_planes", "dim"),
    Set("semantic") -> Seq("kmeans_k", "kmeans_iters"),
    Set("winnow", "winnow_jaccard") -> Seq("winnow_window", "min_shared_fingerprints"),
    Set("prefix") -> Seq("prefix_len", "max_bucket_size"),
    Set("span_mask") -> Seq("span_gram", "min_copies", "max_span_freq", "mask_token"),
    Set("keep_best") -> Seq("score_column"))

  private def fromTree(tree: Any): PipelineConfig = decode("", tree) { root =>
    val version = root.str("version")
    if (versionPattern.findFirstIn(version).isEmpty)
      root.fail("version", s"'$version' does not match ^v?[0-9]+\\.[0-9]+")
    val name = root.block("pipeline")(_.str("name")).getOrElse(root.missing("pipeline"))

    val bronze = root.block("bronze") { b =>
      val source = b.block("source") { s =>
        val st = s.str("type")
        if (!allowedSourceTypes.contains(st))
          s.fail("type", s"'$st' not in ${allowedSourceTypes.toSeq.sorted.mkString("|")}")
        val d = SourceSpec(st, s.str("path"))
        d.copy(format = s.str("format", d.format))
      }.getOrElse(b.missing("source"))
      val d = BronzeSpec(source, b.str("target_path"))
      d.copy(
        mode = b.str("mode", d.mode),
        partitionBy = b.strs("partition_by"),
        dropAllNullColumns = b.bool("drop_all_null_columns", d.dropAllNullColumns),
        addIngestionMetadata = b.bool("add_ingestion_metadata", d.addIngestionMetadata))
    }

    val silver = root.block("silver") { s =>
      SilverSpec(
        renames = s.pairs("renames")(_.optStr(_)),
        casts = s.blocks("casts")(c => CastSpec(c.str("column"), c.str("type"))),
        derived = s.blocks("derived_columns")(d =>
          DerivedColumn(d.str("name"), d.str("expression"))),
        filters = s.strs("filters"),
        dedupe = s.block("dedupe")(d => DedupeSpec(d.strs("keys"), d.strs("order_by"))))
    }.getOrElse(SilverSpec())

    val gold = root.blocks("gold") { g =>
      val d = GoldModel(g.str("name"), g.strs("group_by"),
        g.blocks("measures")(m => Measure(m.str("name"), m.str("expression"))))
      d.copy(
        filters = g.strs("filters"),
        orderBy = g.strs("order_by"),
        limit = g.int("limit"),
        rollup = g.bool("rollup", d.rollup),
        cube = g.bool("cube", d.cube))
    }

    val quality = root.block("quality") { q =>
      QualitySpec(
        nullCheckColumns = q.strs("null_check_columns"),
        positiveColumns = q.strs("positive_columns"),
        rangeChecks = q.blocks("range_checks")(r =>
          RangeCheck(r.str("column"), r.double("min"), r.double("max"))),
        inSetChecks = q.blocks("in_set_checks")(r =>
          InSetCheck(r.str("column"), r.strs("allowed"))),
        regexChecks = q.blocks("regex_checks")(r =>
          RegexCheck(r.str("column"), r.str("pattern"))),
        fdChecks = q.blocks("fd_checks") { r =>
          val lhs = r.strs("lhs")
          if (lhs.isEmpty) r.fail("lhs", "must be non-empty")
          FdCheck(lhs, r.str("rhs"))
        },
        benfordChecks = q.blocks("benford_checks") { r =>
          val d = BenfordCheck(r.str("column"))
          d.copy(maxChi2E6 = r.long("max_chi2_e6", d.maxChi2E6))
        },
        seasonalChecks = q.blocks("seasonal_checks") { r =>
          val d = SeasonalCheck(r.strs("group_by"), r.str("ts_column"),
            r.str("value_column"))
          val sc = d.copy(period = r.int("period", d.period),
            maxAbsZE6 = r.long("max_abs_z_e6", d.maxAbsZE6))
          if (sc.period < 2) r.fail("period", "must be >= 2")
          sc
        },
        correlationChecks = q.blocks("correlation_checks") { r =>
          val d = CorrelationCheck(r.str("type_column"), r.str("ts_column"),
            r.str("value_column"))
          d.copy(minAbsCorrE6 = r.long("min_abs_corr_e6", d.minAbsCorrE6))
        },
        hhiChecks = q.blocks("hhi_checks") { r =>
          val d = HhiCheck(r.strs("group_by"), r.str("category_column"))
          d.copy(maxHhiE6 = r.long("max_hhi_e6", d.maxHhiE6))
        },
        popChecks = q.blocks("pop_checks") { r =>
          val d = PopCheck(r.str("type_column"), r.str("ts_column"),
            r.str("value_column"))
          val pc = d.copy(periodDays = r.long("period_days", d.periodDays),
            maxDropE6 = r.long("max_drop_e6", d.maxDropE6))
          if (pc.periodDays < 1) r.fail("period_days", "must be >= 1")
          pc
        },
        quantileChecks = q.blocks("quantile_checks") { r =>
          val d = QuantileCheck(r.strs("group_by"), r.str("value_column"),
            r.long("bin_width").getOrElse(r.missing("bin_width")))
          val qc = d.copy(qE6 = r.long("q_e6", d.qE6),
            minValue = r.long("min_value"), maxValue = r.long("max_value"))
          if (qc.binWidth < 1) r.fail("bin_width", "must be >= 1")
          if (qc.qE6 < 1 || qc.qE6 > 1000000)
            r.fail("q_e6", "must be in [1, 1000000]")
          if (qc.minValue.isEmpty && qc.maxValue.isEmpty)
            r.fail("needs min_value and/or max_value - a check with no bound " +
              "can never fail")
          qc
        },
        distinctChecks = q.blocks("distinct_checks") { r =>
          val d = DistinctCheck(r.strs("group_by"), r.str("item_column"))
          val dc = d.copy(k = r.int("k", d.k),
            minCount = r.long("min_count"), maxCount = r.long("max_count"))
          if (dc.k < 2) r.fail("k", "must be >= 2")
          if (dc.minCount.isEmpty && dc.maxCount.isEmpty)
            r.fail("needs min_count and/or max_count - a check with no bound " +
              "can never fail")
          dc
        },
        overlapChecks = q.blocks("overlap_checks") { r =>
          val d = OverlapCheck(r.str("type_column"), r.str("item_column"))
          val oc = d.copy(k = r.int("k", d.k),
            maxJaccardE6 = r.long("max_jaccard_e6", d.maxJaccardE6))
          if (oc.k < 2) r.fail("k", "must be >= 2")
          if (oc.maxJaccardE6 < 0L || oc.maxJaccardE6 >= 1000000L)
            r.fail("max_jaccard_e6", "must be in [0, 1000000) - at 1000000 " +
              "nothing can exceed it")
          oc
        },
        containmentChecks = q.blocks("containment_checks") { r =>
          val d = ContainmentCheck(r.str("a_type_column"), r.str("b_type_column"),
            r.str("item_column"))
          val cc = d.copy(aFilter = r.optStr("a_filter"),
            bFilter = r.optStr("b_filter"), k = r.int("k", d.k),
            maxContainmentE6 = r.long("max_containment_e6", d.maxContainmentE6))
          if (cc.k < 2) r.fail("k", "must be >= 2")
          // containment CAN exceed 1e6 (independent estimates), but is
          // clamped at 1000x the denominator = 1e9 micro-units; a cap
          // at or past the clamp can never fail
          if (cc.maxContainmentE6 < 0L || cc.maxContainmentE6 >= 1000000000L)
            r.fail("max_containment_e6", "must be in [0, 1000000000) - the " +
              "estimate is clamped at 1000000000, so a cap at or past it " +
              "can never fail")
          cc
        },
        growthChecks = q.blocks("growth_checks") { r =>
          val d = GrowthCheck(r.str("day_column"), r.str("item_column"))
          val gc = d.copy(k = r.int("k", d.k),
            minNewPerDay = r.long("min_new_per_day", d.minNewPerDay),
            warmupDays = r.int("warmup_days", d.warmupDays))
          if (gc.k < 2) r.fail("k", "must be >= 2")
          // day 1's "new" is the whole corpus - a warmup below 1 would
          // make the gate fire on (or vacuously pass) the bootstrap day
          if (gc.warmupDays < 1) r.fail("warmup_days", "must be >= 1")
          if (gc.minNewPerDay < 0L) r.fail("min_new_per_day", "must be >= 0")
          gc
        },
        ksChecks = q.blocks("ks_checks") { r =>
          val d = KsCheck(r.str("type_column"), r.str("id_column"),
            r.str("value_column"))
          val kc = d.copy(k = r.int("k", d.k),
            maxKsE6 = r.long("max_ks_e6", d.maxKsE6),
            massColumn = r.optStr("mass_column"))
          if (kc.k < 2) r.fail("k", "must be >= 2")
          // D is bounded by exactly 1e6 and the gate fires on >, so a
          // cap at 1e6 can never fail
          if (kc.maxKsE6 < 0L || kc.maxKsE6 >= 1000000L)
            r.fail("max_ks_e6", "must be in [0, 1000000) - D never exceeds 1000000")
          kc
        },
        expectations = q.blocks("expectations") { e =>
          val kind = e.str("kind")
          if (!ExpectationSpec.Kinds(kind))
            e.fail("kind", s"'$kind' is not one of " +
              ExpectationSpec.Kinds.toSeq.sorted.mkString(", "))
          val d = ExpectationSpec(kind)
          d.copy(column = e.str("column", d.column), lo = e.double("lo", d.lo),
            hi = e.double("hi", d.hi))
        },
        failOnError = q.bool("fail_on_error", QualitySpec().failOnError))
    }.getOrElse(QualitySpec())

    val curation = root.block("curation") { c =>
      CurationSpec(
        language = c.block("language_filter") { l =>
          val spec = LanguageFilterSpec(l.str("text_column"), l.strs("keep"))
          if (spec.keep.isEmpty) l.fail("keep", "must list at least one language")
          spec
        },
        gate = c.block("quality_gate") { g =>
          val d = QualityGateSpec(g.str("id_column"), g.str("text_column"))
          d.copy(
            minTokens = g.long("min_tokens", d.minTokens),
            maxTokens = g.long("max_tokens", d.maxTokens),
            minAvgTokenLenE6 = g.long("min_avg_token_len_e6", d.minAvgTokenLenE6),
            maxAvgTokenLenE6 = g.long("max_avg_token_len_e6", d.maxAvgTokenLenE6),
            minTtrE6 = g.long("min_ttr_e6", d.minTtrE6),
            maxDup2E6 = g.long("max_dup_2gram_e6", d.maxDup2E6))
        },
        model = c.block("quality_model") { q =>
          // YAML parses integer mapping keys as Integer; `pairs` hands them
          // over as text, parsed back to buckets here
          val weights = q.pairs("weights_e6")(_.long(_)).map { case (b, w) =>
            Try(b.toInt).getOrElse(q.fail("weights_e6",
              s"keys must be integer buckets, got '$b'")) -> w
          }.toMap
          val d = QualityModelSpec(q.str("id_column"), q.str("text_column"),
            q.int("n_buckets").getOrElse(q.missing("n_buckets")), weights)
          val spec = d.copy(biasE6 = q.long("bias_e6", d.biasE6),
            minScoreE6 = q.long("min_score_e6", d.minScoreE6))
          if (weights.isEmpty)
            q.fail("weights_e6", "must list the model's non-zero bucket weights")
          if (weights.keysIterator.exists(b => b < 0 || b >= spec.nBuckets))
            q.fail("weights_e6", s"keys must be buckets in [0, ${spec.nBuckets})")
          spec
        },
        pii = c.blocks("pii") { r =>
          val pattern = (r.optStr("pattern"), r.optStr("preset")) match {
            case (Some(p), None) => p
            case (None, Some(name)) => PiiRule.Presets.getOrElse(name,
              r.fail("preset", s"'$name' not in " +
                PiiRule.Presets.keys.toSeq.sorted.mkString("|")))
            case _ => r.fail("needs exactly one of pattern | preset")
          }
          val d = PiiRule(r.str("column"), pattern)
          d.copy(replacement = r.str("replacement", d.replacement))
        },
        dedup = c.block("dedup") { n =>
          val strategy = n.str("strategy")
          if (!NearDedupSpec.Strategies(strategy))
            n.fail("strategy", s"'$strategy' not in " +
              NearDedupSpec.Strategies.toSeq.sorted.mkString("|"))
          val d = NearDedupSpec(strategy, n.str("id_column"), n.str("content_column"))
          val spec = d.copy(
            threshold = n.double("threshold", d.threshold),
            ngram = n.int("ngram", d.ngram),
            maxHamming = n.int("max_hamming", d.maxHamming),
            numPlanes = n.int("num_planes", d.numPlanes),
            dim = n.int("dim", d.dim),
            maxShingleFreq = n.int("max_shingle_freq", d.maxShingleFreq),
            numHashes = n.int("num_hashes", d.numHashes),
            numBands = n.int("num_bands", d.numBands),
            scoreColumn = n.optStr("score_column"),
            kmeansK = n.int("kmeans_k", d.kmeansK),
            kmeansIters = n.int("kmeans_iters", d.kmeansIters),
            prefixLen = n.int("prefix_len", d.prefixLen),
            maxBucketSize = n.int("max_bucket_size", d.maxBucketSize),
            spanGram = n.int("span_gram", d.spanGram),
            minCopies = n.int("min_copies", d.minCopies),
            maxSpanFreq = n.int("max_span_freq", d.maxSpanFreq),
            maskToken = n.str("mask_token", d.maskToken),
            winnowWindow = n.int("winnow_window", d.winnowWindow),
            minSharedFingerprints =
              n.long("min_shared_fingerprints", d.minSharedFingerprints))
          for ((only, keys) <- dedupKeysOnlyFor; k <- keys
               if !only(strategy) && n.has(k))
            n.fail(k, s"only applies to strategy ${only.toSeq.sorted.mkString("/")} " +
              s"(got strategy '$strategy' — it would be silently ignored)")
          if (strategy == "embedding_lsh" && spec.dim < 1)
            n.fail("dim", "must be >= 1 for strategy embedding_lsh")
          if (strategy == "semantic" && (spec.kmeansK < 1 || spec.kmeansIters < 0))
            n.fail("needs kmeans_k >= 1 and kmeans_iters >= 0")
          if (strategy.startsWith("winnow") &&
              (spec.winnowWindow < 2 || spec.minSharedFingerprints < 1))
            n.fail("needs winnow_window >= 2 and min_shared_fingerprints >= 1")
          if (strategy == "prefix" && (spec.prefixLen < 1 || spec.maxBucketSize < 2))
            n.fail("needs prefix_len >= 1 and max_bucket_size >= 2")
          if (strategy == "span_mask" && (spec.spanGram < 2 || spec.minCopies < 2 ||
              spec.maxSpanFreq < spec.minCopies))
            n.fail("needs span_gram >= 2, min_copies >= 2, and " +
              "max_span_freq >= min_copies for strategy span_mask")
          if (strategy == "keep_best" && spec.scoreColumn.isEmpty)
            n.fail("score_column is required for strategy keep_best (it " +
              "decides which cluster member survives)")
          spec
        },
        mixing = c.block("mixing") { m =>
          val d = MixingSpec(m.str("key_column"), m.str("domain_column"))
          val spec = d.copy(rates = m.pairs("rates")(_.int(_)).toMap,
            defaultPct = m.int("default_pct", d.defaultPct),
            temperature = m.double("temperature"))
          spec.temperature.foreach { a =>
            if (a < 0.0 || a > 1.0) m.fail("temperature", s"must be in [0,1], got $a")
            if (spec.rates.nonEmpty)
              m.fail("temperature and explicit rates are exclusive " +
                "(temperature DERIVES the rates from corpus counts)")
          }
          spec
        },
        budget = c.block("budget") { b =>
          val spec = BudgetSpec(b.str("id_column"), b.str("score_column"),
            b.str("token_column"),
            maxTokens = b.long("max_tokens"),
            domainColumn = b.optStr("domain_column"),
            perDomain = b.pairs("per_domain")(_.long(_)).toMap,
            defaultDomainTokens = b.long("default_domain_tokens"))
          (spec.maxTokens, spec.perDomain.nonEmpty) match {
            case (Some(_), true) => b.fail("max_tokens and per_domain are " +
              "exclusive (one global cut or per-domain cuts, not both)")
            case (None, false) => b.fail("needs max_tokens or per_domain")
            case _ => ()
          }
          if (spec.maxTokens.exists(_ < 0)) b.fail("max_tokens", "must be >= 0")
          if (spec.perDomain.isEmpty &&
              (spec.domainColumn.nonEmpty || spec.defaultDomainTokens.nonEmpty))
            b.fail("domain_column/default_domain_tokens only apply with " +
              "per_domain (in global max_tokens mode they would be silently ignored)")
          if (spec.perDomain.nonEmpty) {
            if (spec.domainColumn.isEmpty)
              b.fail("domain_column is required with per_domain")
            if (spec.defaultDomainTokens.isEmpty)
              b.fail("default_domain_tokens is required with per_domain — an " +
                "unlisted domain must be an explicit decision, not a silent " +
                "drop or free pass")
            if (spec.perDomain.values.exists(_ < 0) ||
                spec.defaultDomainTokens.exists(_ < 0))
              b.fail("per-domain budgets must be >= 0")
          }
          spec
        })
    }

    val sessions = root.block("sessions") { s =>
      SessionSpec(s.str("key_column"), s.str("ts_us_column"), s.str("tie_column"),
        s.str("value_column"), s.long("gap_sec").getOrElse(s.missing("gap_sec")))
    }

    val retrieval = root.block("retrieval") { r =>
      val d = RetrievalSpec(r.str("id_column"), r.str("text_column"),
        r.str("queries_filter"))
      val spec = d.copy(
        k = r.int("k", d.k),
        maxDf = r.long("max_df", d.maxDf),
        maxDfFracE6 = r.long("max_df_frac_e6", d.maxDfFracE6),
        embeddingColumn = r.optStr("embedding_column"),
        fuseK = r.int("fuse_k"),
        rrfK = r.long("rrf_k"),
        excludeSelf = r.bool("exclude_self", d.excludeSelf))
      if (spec.k < 1) r.fail("k", s"must be >= 1, got ${spec.k}")
      if (spec.maxDf != d.maxDf && spec.maxDfFracE6 > 0L)
        r.fail("set max_df (absolute) or max_df_frac_e6 " +
          "(corpus-proportional), not both")
      if (spec.maxDfFracE6 < 0L || spec.maxDfFracE6 > 1000000L)
        r.fail("max_df_frac_e6", s"must be in [0, 1000000], got ${spec.maxDfFracE6}")
      if (spec.embeddingColumn.isEmpty && (spec.fuseK.nonEmpty || spec.rrfK.nonEmpty))
        r.fail("fuse_k/rrf_k only apply to a hybrid run — set " +
          "embedding_column, or drop the fusion knobs")
      if (spec.fuseK.exists(_ < 1) || spec.rrfK.exists(_ < 1L))
        r.fail("fuse_k and rrf_k must be >= 1")
      spec
    }

    val split = root.block("split") { s =>
      // weights are read ORDER-PRESERVING: the cumulative bucket map makes
      // YAML order part of the assignment
      val d = SplitSpec(s.str("key_column"), s.pairs("weights")(_.int(_)))
      val spec = d.copy(
        strategy = s.str("strategy", d.strategy),
        contentColumn = s.optStr("content_column"),
        ngram = s.int("ngram", d.ngram),
        threshold = s.double("threshold", d.threshold),
        maxShingleFreq = s.int("max_shingle_freq", d.maxShingleFreq))
      if (!SplitSpec.Strategies(spec.strategy))
        s.fail("strategy", s"'${spec.strategy}' not in " +
          SplitSpec.Strategies.toSeq.sorted.mkString("|"))
      if (spec.weights.isEmpty || spec.weights.exists(_._2 < 0) ||
          spec.weights.map(_._2).sum != 100)
        s.fail("weights", s"must be >= 0 and sum to 100, got ${spec.weights}")
      if (spec.strategy == "cluster" && spec.contentColumn.isEmpty)
        s.fail("content_column is required for strategy cluster (the " +
          "near-dup pairs are generated from it)")
      if (spec.strategy == "hash" &&
          Seq("content_column", "ngram", "threshold", "max_shingle_freq").exists(s.has))
        s.fail("content_column/ngram/threshold/max_shingle_freq only apply to " +
          "strategy cluster (got strategy 'hash' — they would be silently ignored)")
      spec
    }

    // the reference performance: block (lakehouse_config.yaml:163-173)
    val performance = root.block("performance") { p =>
      (PerformanceSpec(p.int("shuffle_partitions"), p.bool("adaptive_execution"),
        p.int("broadcast_threshold_mb"), p.bool("cost_based_optimization"),
        p.str("cache_level", PerformanceSpec().cacheLevel)),
        p.bool("cache_after_transform"))
    }

    val features = root.block("features") { f =>
      val spec = FeaturesSpec(f.str("id_column"),
        hashText = f.block("hash_text") { h =>
          val d = HashFeaturesConf(h.str("text_column"))
          val c = d.copy(nBuckets = h.int("n_buckets", d.nBuckets))
          if (c.nBuckets < 2) h.fail("n_buckets", s"must be >= 2, got ${c.nBuckets}")
          c
        },
        targetEncode = f.block("target_encode") { t =>
          val d = TargetEncodeConf(t.str("category_column"), t.str("target_column"))
          val c = d.copy(m = t.int("m", d.m))
          if (c.m < 1) t.fail("m", s"must be >= 1, got ${c.m}")
          c
        })
      if (spec.hashText.isEmpty && spec.targetEncode.isEmpty)
        f.fail("set hash_text and/or target_encode — an empty block produces nothing")
      spec
    }

    val layout = root.block("layout") { l =>
      val spec = LayoutSpec(l.str("key_column"),
        l.int("n_shards").getOrElse(l.missing("n_shards")),
        l.int("previous_n_shards"))
      if (spec.nShards < 1) l.fail("n_shards", s"must be >= 1, got ${spec.nShards}")
      if (spec.previousNShards.exists(_ < 1))
        l.fail("previous_n_shards", "must be >= 1")
      if (spec.previousNShards.contains(spec.nShards))
        l.fail("previous_n_shards", "equals n_shards - a no-op migration " +
          "plan; drop previous_n_shards for the balance report")
      spec
    }

    val d = PipelineConfig(version, name, bronze, silver, gold, quality)
    d.copy(
      performance = performance.fold(d.performance)(_._1),
      cacheSilver = performance.flatMap(_._2).getOrElse(d.cacheSilver),
      curation = curation, sessions = sessions, retrieval = retrieval,
      split = split, features = features, layout = layout)
  }
}
