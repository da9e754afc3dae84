package graft.config

import java.util.{List => JList, Map => JMap}
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.Yaml

/** YAML pipeline-config loader — the Scala equivalent of the reference's
  * config machinery (src/config_loader.py, src/enhanced_config_loader.py:
  * 74-138, src/environment_config_manager.py:92-177, src/config_validator.py):
  * base YAML + environment-overlay deep-merge + `${VAR}` env expansion +
  * structural validation with clear errors.
  *
  * Parsed with snakeyaml into plain maps and mapped to the case-class model
  * explicitly (no reflection/data-binding), so unknown keys pass through
  * harmlessly — the reference's forward-compat posture.
  */
object ConfigLoader {

  final case class SourceSpec(
      sourceType: String, // http|file|s3|postgres|mysql|api|kafka
      path: String,
      format: String) // parquet|csv

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
      env: Map[String, String] = sys.env,
      migrateTo: Option[String] = None): PipelineConfig = {
    val y = new Yaml()
    val base = y.load[Any](expandVars(yaml, env))
    val merged = overlayYaml.fold(base)(o => deepMerge(base, y.load[Any](expandVars(o, env))))
    // optional version migration on the raw tree, before case-class mapping
    val tree = migrateTo.fold(merged)(t =>
      ConfigVersions.migrate(ConfigVersions.treeOf(merged), t).asJava: Any)
    fromTree(tree)
  }

  def load(path: String, overlayPath: Option[String] = None): PipelineConfig = {
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    parse(read(path), overlayPath.map(read))
  }

  // ---- tree → case classes ---------------------------------------------

  private def asMap(a: Any, where: String): Map[String, Any] = a match {
    case m: JMap[_, _] => m.asInstanceOf[JMap[String, Any]].asScala.toMap
    case null => throw new ConfigError(s"missing section: $where")
    case other => throw new ConfigError(s"$where: expected a mapping, got ${other.getClass.getSimpleName}")
  }

  private def asList(a: Any): Seq[Any] = a match {
    case l: JList[_] => l.asScala.toSeq
    case null => Nil
    case other => throw new ConfigError(s"expected a list, got ${other.getClass.getSimpleName}")
  }

  private def str(m: Map[String, Any], k: String, where: String): String =
    m.get(k) match {
      case Some(s: String) => s
      case Some(other) => throw new ConfigError(s"$where.$k: expected string, got $other")
      case None => throw new ConfigError(s"$where: required key '$k' is missing")
    }

  /** `m(k)` as a YAML boolean, if set. A quoted (`"true"`) or numeric
    * value fails naming `where.k`, not with a bare ClassCastException. */
  private def bool(m: Map[String, Any], k: String, where: String): Option[Boolean] =
    m.get(k).map {
      case b: java.lang.Boolean => b.booleanValue
      case other =>
        throw new ConfigError(s"$where.$k: expected true or false, got '$other'")
    }

  private def optStr(m: Map[String, Any], k: String): Option[String] =
    m.get(k).collect { case s: String => s }

  private def strList(m: Map[String, Any], k: String): Seq[String] =
    asList(m.getOrElse(k, null)).map(_.toString)

  private def fromTree(tree: Any): PipelineConfig = {
    val root = asMap(tree, "<root>")
    val version = str(root, "version", "<root>")
    if (versionPattern.findFirstIn(version).isEmpty)
      throw new ConfigError(s"version '$version' does not match ^v?[0-9]+\\.[0-9]+")
    val pipeline = asMap(root.getOrElse("pipeline", null), "pipeline")
    val name = str(pipeline, "name", "pipeline")

    val bronze = root.get("bronze").map { b =>
      val bm = asMap(b, "bronze")
      val sm = asMap(bm.getOrElse("source", null), "bronze.source")
      val st = str(sm, "type", "bronze.source")
      if (!allowedSourceTypes.contains(st))
        throw new ConfigError(
          s"bronze.source.type '$st' not in ${allowedSourceTypes.toSeq.sorted.mkString("|")}")
      BronzeSpec(
        source = SourceSpec(st, str(sm, "path", "bronze.source"),
          optStr(sm, "format").getOrElse("parquet")),
        targetPath = str(bm, "target_path", "bronze"),
        mode = optStr(bm, "mode").getOrElse("overwrite"),
        partitionBy = strList(bm, "partition_by"),
        dropAllNullColumns =
          bool(bm, "drop_all_null_columns", "bronze").getOrElse(true),
        addIngestionMetadata =
          bool(bm, "add_ingestion_metadata", "bronze").getOrElse(true))
    }

    val silver = root.get("silver").map { s =>
      val sm = asMap(s, "silver")
      SilverSpec(
        renames = asMap(sm.getOrElse("renames", new java.util.LinkedHashMap[String, Any]()),
          "silver.renames").toSeq.map { case (k, v) => k -> v.toString },
        casts = asList(sm.getOrElse("casts", null)).map { c =>
          val cm = asMap(c, "silver.casts[]")
          CastSpec(str(cm, "column", "silver.casts[]"), str(cm, "type", "silver.casts[]"))
        },
        derived = asList(sm.getOrElse("derived_columns", null)).map { d =>
          val dm = asMap(d, "silver.derived_columns[]")
          DerivedColumn(str(dm, "name", "derived"), str(dm, "expression", "derived"))
        },
        filters = strList(sm, "filters"),
        dedupe = sm.get("dedupe").map { d =>
          val dm = asMap(d, "silver.dedupe")
          DedupeSpec(strList(dm, "keys"), strList(dm, "order_by"))
        })
    }.getOrElse(SilverSpec())

    val gold = asList(root.getOrElse("gold", null)).map { g =>
      val gm = asMap(g, "gold[]")
      GoldModel(
        name = str(gm, "name", "gold[]"),
        groupBy = strList(gm, "group_by"),
        measures = asList(gm.getOrElse("measures", null)).map { mm =>
          val m = asMap(mm, "gold[].measures[]")
          Measure(str(m, "name", "measure"), str(m, "expression", "measure"))
        },
        filters = strList(gm, "filters"),
        orderBy = strList(gm, "order_by"),
        limit = gm.get("limit").map(_.toString.toInt),
        rollup = bool(gm, "rollup", "gold[]").getOrElse(false),
        cube = bool(gm, "cube", "gold[]").getOrElse(false))
    }

    val quality = root.get("quality").map { q =>
      val qm = asMap(q, "quality")
      QualitySpec(
        nullCheckColumns = strList(qm, "null_check_columns"),
        positiveColumns = strList(qm, "positive_columns"),
        rangeChecks = asList(qm.getOrElse("range_checks", null)).map { r =>
          val rm = asMap(r, "quality.range_checks[]")
          RangeCheck(str(rm, "column", "range"),
            rm.get("min").map(_.toString.toDouble),
            rm.get("max").map(_.toString.toDouble))
        },
        inSetChecks = asList(qm.getOrElse("in_set_checks", null)).map { r =>
          val rm = asMap(r, "quality.in_set_checks[]")
          InSetCheck(str(rm, "column", "in_set"), strList(rm, "allowed"))
        },
        regexChecks = asList(qm.getOrElse("regex_checks", null)).map { r =>
          val rm = asMap(r, "quality.regex_checks[]")
          RegexCheck(str(rm, "column", "regex"), str(rm, "pattern", "regex"))
        },
        fdChecks = asList(qm.getOrElse("fd_checks", null)).map { r =>
          val fm = asMap(r, "quality.fd_checks[]")
          val lhs = strList(fm, "lhs")
          if (lhs.isEmpty)
            throw new ConfigError("quality.fd_checks[].lhs must be non-empty")
          FdCheck(lhs, str(fm, "rhs", "fd"))
        },
        benfordChecks = asList(qm.getOrElse("benford_checks", null)).map { r =>
          val bm = asMap(r, "quality.benford_checks[]")
          BenfordCheck(str(bm, "column", "benford"),
            bm.get("max_chi2_e6").map(_.toString.toLong)
              .getOrElse(50000000L))
        },
        seasonalChecks = asList(qm.getOrElse("seasonal_checks", null)).map { r =>
          val sm = asMap(r, "quality.seasonal_checks[]")
          val sc = SeasonalCheck(
            groupBy = strList(sm, "group_by"),
            tsColumn = str(sm, "ts_column", "seasonal"),
            valueColumn = str(sm, "value_column", "seasonal"),
            period = sm.get("period").map(_.toString.toInt).getOrElse(7),
            maxAbsZE6 = sm.get("max_abs_z_e6").map(_.toString.toLong)
              .getOrElse(3000000L))
          if (sc.period < 2)
            throw new ConfigError("quality.seasonal_checks[].period must be >= 2")
          sc
        },
        correlationChecks =
          asList(qm.getOrElse("correlation_checks", null)).map { r =>
            val cm = asMap(r, "quality.correlation_checks[]")
            CorrelationCheck(
              typeColumn = str(cm, "type_column", "correlation"),
              tsColumn = str(cm, "ts_column", "correlation"),
              valueColumn = str(cm, "value_column", "correlation"),
              minAbsCorrE6 = cm.get("min_abs_corr_e6").map(_.toString.toLong)
                .getOrElse(950000L))
          },
        hhiChecks = asList(qm.getOrElse("hhi_checks", null)).map { r =>
          val hm = asMap(r, "quality.hhi_checks[]")
          HhiCheck(
            groupBy = strList(hm, "group_by"),
            categoryColumn = str(hm, "category_column", "hhi"),
            maxHhiE6 = hm.get("max_hhi_e6").map(_.toString.toLong)
              .getOrElse(250000L))
        },
        popChecks = asList(qm.getOrElse("pop_checks", null)).map { r =>
          val pm = asMap(r, "quality.pop_checks[]")
          val pc = PopCheck(
            typeColumn = str(pm, "type_column", "pop"),
            tsColumn = str(pm, "ts_column", "pop"),
            valueColumn = str(pm, "value_column", "pop"),
            periodDays = pm.get("period_days").map(_.toString.toLong)
              .getOrElse(1L),
            maxDropE6 = pm.get("max_drop_e6").map(_.toString.toLong)
              .getOrElse(500000L))
          if (pc.periodDays < 1)
            throw new ConfigError("quality.pop_checks[].period_days must be >= 1")
          pc
        },
        quantileChecks =
          asList(qm.getOrElse("quantile_checks", null)).map { r =>
            val cm = asMap(r, "quality.quantile_checks[]")
            val qc = QuantileCheck(
              groupBy = strList(cm, "group_by"),
              valueColumn = str(cm, "value_column", "quantile"),
              binWidth = cm.get("bin_width").map(_.toString.toLong)
                .getOrElse(throw new ConfigError(
                  "quality.quantile_checks[].bin_width is required")),
              qE6 = cm.get("q_e6").map(_.toString.toLong).getOrElse(500000L),
              minValue = cm.get("min_value").map(_.toString.toLong),
              maxValue = cm.get("max_value").map(_.toString.toLong))
            if (qc.binWidth < 1)
              throw new ConfigError(
                "quality.quantile_checks[].bin_width must be >= 1")
            if (qc.qE6 < 1 || qc.qE6 > 1000000)
              throw new ConfigError(
                "quality.quantile_checks[].q_e6 must be in [1, 1000000]")
            if (qc.minValue.isEmpty && qc.maxValue.isEmpty)
              throw new ConfigError("quality.quantile_checks[] needs " +
                "min_value and/or max_value - a check with no bound " +
                "can never fail")
            qc
          },
        distinctChecks =
          asList(qm.getOrElse("distinct_checks", null)).map { r =>
            val cm = asMap(r, "quality.distinct_checks[]")
            val dc = DistinctCheck(
              groupBy = strList(cm, "group_by"),
              itemColumn = str(cm, "item_column", "distinct"),
              k = cm.get("k").map(_.toString.toInt).getOrElse(256),
              minCount = cm.get("min_count").map(_.toString.toLong),
              maxCount = cm.get("max_count").map(_.toString.toLong))
            if (dc.k < 2)
              throw new ConfigError(
                "quality.distinct_checks[].k must be >= 2")
            if (dc.minCount.isEmpty && dc.maxCount.isEmpty)
              throw new ConfigError("quality.distinct_checks[] needs " +
                "min_count and/or max_count - a check with no bound " +
                "can never fail")
            dc
          },
        overlapChecks =
          asList(qm.getOrElse("overlap_checks", null)).map { r =>
            val cm = asMap(r, "quality.overlap_checks[]")
            val oc = OverlapCheck(
              typeColumn = str(cm, "type_column", "overlap"),
              itemColumn = str(cm, "item_column", "overlap"),
              k = cm.get("k").map(_.toString.toInt).getOrElse(256),
              maxJaccardE6 = cm.get("max_jaccard_e6").map(_.toString.toLong)
                .getOrElse(500000L))
            if (oc.k < 2)
              throw new ConfigError("quality.overlap_checks[].k must be >= 2")
            if (oc.maxJaccardE6 < 0L || oc.maxJaccardE6 >= 1000000L)
              throw new ConfigError("quality.overlap_checks[]." +
                "max_jaccard_e6 must be in [0, 1000000) - at 1000000 " +
                "nothing can exceed it")
            oc
          },
        containmentChecks =
          asList(qm.getOrElse("containment_checks", null)).map { r =>
            val cm = asMap(r, "quality.containment_checks[]")
            val cc = ContainmentCheck(
              aTypeColumn = str(cm, "a_type_column", "containment"),
              bTypeColumn = str(cm, "b_type_column", "containment"),
              itemColumn = str(cm, "item_column", "containment"),
              aFilter = cm.get("a_filter").map(_.toString),
              bFilter = cm.get("b_filter").map(_.toString),
              k = cm.get("k").map(_.toString.toInt).getOrElse(256),
              maxContainmentE6 = cm.get("max_containment_e6")
                .map(_.toString.toLong).getOrElse(500000L))
            if (cc.k < 2)
              throw new ConfigError(
                "quality.containment_checks[].k must be >= 2")
            // containment CAN exceed 1e6 (independent estimates), but is
            // clamped at 1000x the denominator = 1e9 micro-units; a cap
            // at or past the clamp can never fail
            if (cc.maxContainmentE6 < 0L || cc.maxContainmentE6 >= 1000000000L)
              throw new ConfigError("quality.containment_checks[]." +
                "max_containment_e6 must be in [0, 1000000000) - the " +
                "estimate is clamped at 1000000000, so a cap at or past " +
                "it can never fail")
            cc
          },
        growthChecks =
          asList(qm.getOrElse("growth_checks", null)).map { r =>
            val cm = asMap(r, "quality.growth_checks[]")
            val gc = GrowthCheck(
              dayColumn = str(cm, "day_column", "growth"),
              itemColumn = str(cm, "item_column", "growth"),
              k = cm.get("k").map(_.toString.toInt).getOrElse(64),
              minNewPerDay = cm.get("min_new_per_day")
                .map(_.toString.toLong).getOrElse(1L),
              warmupDays = cm.get("warmup_days")
                .map(_.toString.toInt).getOrElse(1))
            if (gc.k < 2)
              throw new ConfigError("quality.growth_checks[].k must be >= 2")
            // day 1's "new" is the whole corpus - a warmup below 1 would
            // make the gate fire on (or vacuously pass) the bootstrap day
            if (gc.warmupDays < 1)
              throw new ConfigError(
                "quality.growth_checks[].warmup_days must be >= 1")
            if (gc.minNewPerDay < 0L)
              throw new ConfigError(
                "quality.growth_checks[].min_new_per_day must be >= 0")
            gc
          },
        ksChecks =
          asList(qm.getOrElse("ks_checks", null)).map { r =>
            val cm = asMap(r, "quality.ks_checks[]")
            val kc = KsCheck(
              typeColumn = str(cm, "type_column", "ks"),
              idColumn = str(cm, "id_column", "ks"),
              valueColumn = str(cm, "value_column", "ks"),
              k = cm.get("k").map(_.toString.toInt).getOrElse(256),
              maxKsE6 = cm.get("max_ks_e6").map(_.toString.toLong)
                .getOrElse(500000L),
              massColumn = cm.get("mass_column").map(_.toString))
            if (kc.k < 2)
              throw new ConfigError("quality.ks_checks[].k must be >= 2")
            // D is bounded by exactly 1e6 and the gate fires on >, so a
            // cap at 1e6 can never fail
            if (kc.maxKsE6 < 0L || kc.maxKsE6 >= 1000000L)
              throw new ConfigError("quality.ks_checks[].max_ks_e6 " +
                "must be in [0, 1000000) - D never exceeds 1000000")
            kc
          },
        expectations = asList(qm.getOrElse("expectations", null)).map { r =>
          val em = asMap(r, "quality.expectations[]")
          val kind = str(em, "kind", "expectation")
          if (!ExpectationSpec.Kinds(kind))
            throw new ConfigError(s"quality.expectations[].kind '$kind' is not " +
              s"one of ${ExpectationSpec.Kinds.toSeq.sorted.mkString(", ")}")
          ExpectationSpec(
            kind = kind,
            column = em.get("column").map(_.toString).getOrElse("*"),
            lo = em.get("lo").map(_.toString.toDouble)
              .getOrElse(Double.NegativeInfinity),
            hi = em.get("hi").map(_.toString.toDouble)
              .getOrElse(Double.PositiveInfinity))
        },
        failOnError = bool(qm, "fail_on_error", "quality").getOrElse(false))
    }.getOrElse(QualitySpec())

    val curation = root.get("curation").map { c =>
      val cm = asMap(c, "curation")
      CurationSpec(
        language = cm.get("language_filter").map { l =>
          val lm = asMap(l, "curation.language_filter")
          val spec = LanguageFilterSpec(
            textColumn = str(lm, "text_column", "curation.language_filter"),
            keep = strList(lm, "keep"))
          if (spec.keep.isEmpty)
            throw new ConfigError(
              "curation.language_filter.keep must list at least one language")
          spec
        },
        gate = cm.get("quality_gate").map { g =>
          val gm = asMap(g, "curation.quality_gate")
          def long(key: String, dflt: Long): Long =
            gm.get(key).map(_.toString.toLong).getOrElse(dflt)
          QualityGateSpec(
            idColumn = str(gm, "id_column", "curation.quality_gate"),
            textColumn = str(gm, "text_column", "curation.quality_gate"),
            minTokens = long("min_tokens", 20L),
            maxTokens = long("max_tokens", 90L),
            minAvgTokenLenE6 = long("min_avg_token_len_e6", 3000000L),
            maxAvgTokenLenE6 = long("max_avg_token_len_e6", 8000000L),
            minTtrE6 = long("min_ttr_e6", 300000L),
            maxDup2E6 = long("max_dup_2gram_e6", 200000L))
        },
        model = cm.get("quality_model").map { q =>
          val qm2 = asMap(q, "curation.quality_model")
          // YAML parses integer mapping keys as Integer, so the generic
          // String-keyed asMap cannot serve here — walk the raw JMap
          val weights = (qm2.getOrElse("weights_e6",
              throw new ConfigError(
                "curation.quality_model.weights_e6 is required (the " +
                  "model's non-zero bucket weights)")) match {
            case m: JMap[_, _] => m.asScala.toSeq
            case other => throw new ConfigError(
              "curation.quality_model.weights_e6: expected a mapping, " +
                s"got ${other.getClass.getSimpleName}")
          }).map { case (k, v) =>
            val bucket =
              try k.toString.toInt
              catch { case _: NumberFormatException =>
                throw new ConfigError("curation.quality_model.weights_e6 " +
                  s"keys must be integer buckets, got '$k'") }
            bucket -> v.toString.toLong
          }.toMap
          val spec = QualityModelSpec(
            idColumn = str(qm2, "id_column", "curation.quality_model"),
            textColumn = str(qm2, "text_column", "curation.quality_model"),
            nBuckets = qm2.getOrElse("n_buckets",
              throw new ConfigError(
                "curation.quality_model.n_buckets is required (the hash " +
                  "space the weights were trained in)")).toString.toInt,
            weightsE6 = weights,
            biasE6 = qm2.get("bias_e6").map(_.toString.toLong).getOrElse(0L),
            minScoreE6 =
              qm2.get("min_score_e6").map(_.toString.toLong).getOrElse(0L))
          if (weights.isEmpty)
            throw new ConfigError(
              "curation.quality_model.weights_e6 must be non-empty")
          if (weights.keysIterator.exists(b => b < 0 || b >= spec.nBuckets))
            throw new ConfigError("curation.quality_model.weights_e6 keys " +
              s"must be buckets in [0, ${spec.nBuckets})")
          spec
        },
        pii = asList(cm.getOrElse("pii", null)).map { r =>
          val rm = asMap(r, "curation.pii[]")
          val pattern = (rm.get("pattern"), rm.get("preset")) match {
            case (Some(p), None) => p.toString
            case (None, Some(name)) => PiiRule.Presets.getOrElse(name.toString,
              throw new ConfigError(s"curation.pii[].preset '$name' not in " +
                PiiRule.Presets.keys.toSeq.sorted.mkString("|")))
            case _ => throw new ConfigError(
              "curation.pii[] rules need exactly one of pattern | preset")
          }
          PiiRule(
            column = str(rm, "column", "curation.pii[]"),
            pattern = pattern,
            replacement = rm.get("replacement").map(_.toString)
              .getOrElse("[REDACTED]"))
        },
        dedup = cm.get("dedup").map { d =>
          val dm = asMap(d, "curation.dedup")
          val strategy = str(dm, "strategy", "curation.dedup")
          if (!NearDedupSpec.Strategies(strategy))
            throw new ConfigError(s"curation.dedup.strategy '$strategy' not in " +
              NearDedupSpec.Strategies.toSeq.sorted.mkString("|"))
          val spec = NearDedupSpec(
            strategy = strategy,
            idColumn = str(dm, "id_column", "curation.dedup"),
            contentColumn = str(dm, "content_column", "curation.dedup"),
            threshold = dm.get("threshold").map(_.toString.toDouble).getOrElse(0.8),
            ngram = dm.get("ngram").map(_.toString.toInt).getOrElse(3),
            maxHamming = dm.get("max_hamming").map(_.toString.toInt).getOrElse(6),
            numPlanes = dm.get("num_planes").map(_.toString.toInt).getOrElse(4),
            dim = dm.get("dim").map(_.toString.toInt).getOrElse(0),
            maxShingleFreq = dm.get("max_shingle_freq").map(_.toString.toInt)
              .getOrElse(Int.MaxValue),
            numHashes = dm.get("num_hashes").map(_.toString.toInt).getOrElse(8),
            numBands = dm.get("num_bands").map(_.toString.toInt).getOrElse(4),
            scoreColumn = dm.get("score_column").map(_.toString),
            kmeansK = dm.get("kmeans_k").map(_.toString.toInt).getOrElse(256),
            kmeansIters =
              dm.get("kmeans_iters").map(_.toString.toInt).getOrElse(2),
            prefixLen = dm.get("prefix_len").map(_.toString.toInt).getOrElse(32),
            maxBucketSize = dm.get("max_bucket_size").map(_.toString.toInt)
              .getOrElse(Int.MaxValue),
            spanGram = dm.get("span_gram").map(_.toString.toInt).getOrElse(5),
            minCopies = dm.get("min_copies").map(_.toString.toInt).getOrElse(2),
            maxSpanFreq = dm.get("max_span_freq").map(_.toString.toInt)
              .getOrElse(Int.MaxValue),
            maskToken = optStr(dm, "mask_token").getOrElse("[DUP]"),
            winnowWindow =
              dm.get("winnow_window").map(_.toString.toInt).getOrElse(4),
            minSharedFingerprints = dm.get("min_shared_fingerprints")
              .map(_.toString.toLong).getOrElse(2L))
          if (spec.strategy == "embedding_lsh" && spec.dim < 1)
            throw new ConfigError(
              "curation.dedup.dim must be >= 1 for strategy embedding_lsh")
          if (spec.strategy != "semantic" &&
              (dm.contains("kmeans_k") || dm.contains("kmeans_iters")))
            throw new ConfigError(
              "curation.dedup.kmeans_k/kmeans_iters only apply to strategy " +
                s"semantic (got strategy '${spec.strategy}' — they would be " +
                "silently ignored)")
          if (spec.strategy == "semantic" &&
              (spec.kmeansK < 1 || spec.kmeansIters < 0))
            throw new ConfigError(
              "curation.dedup needs kmeans_k >= 1 and kmeans_iters >= 0")
          val winnowish = Set("winnow", "winnow_jaccard")
          if (!winnowish(spec.strategy) &&
              (dm.contains("winnow_window") ||
                dm.contains("min_shared_fingerprints")))
            throw new ConfigError(
              "curation.dedup.winnow_window/min_shared_fingerprints only " +
                s"apply to strategies winnow/winnow_jaccard (got " +
                s"'${spec.strategy}' — they would be silently ignored)")
          if (winnowish(spec.strategy) &&
              (spec.winnowWindow < 2 || spec.minSharedFingerprints < 1))
            throw new ConfigError(
              "curation.dedup needs winnow_window >= 2 and " +
                "min_shared_fingerprints >= 1")
          if (spec.strategy != "prefix" &&
              (dm.contains("prefix_len") || dm.contains("max_bucket_size")))
            throw new ConfigError(
              "curation.dedup.prefix_len/max_bucket_size only apply to " +
                s"strategy prefix (got strategy '${spec.strategy}' — they " +
                "would be silently ignored)")
          if (spec.strategy == "prefix" &&
              (spec.prefixLen < 1 || spec.maxBucketSize < 2))
            throw new ConfigError(
              "curation.dedup needs prefix_len >= 1 and max_bucket_size >= 2")
          if (spec.strategy != "span_mask" &&
              Seq("span_gram", "min_copies", "max_span_freq", "mask_token")
                .exists(dm.contains))
            throw new ConfigError(
              "curation.dedup.span_gram/min_copies/max_span_freq/mask_token " +
                s"only apply to strategy span_mask (got strategy " +
                s"'${spec.strategy}' — they would be silently ignored)")
          if (spec.strategy == "span_mask" &&
              (spec.spanGram < 2 || spec.minCopies < 2 ||
                spec.maxSpanFreq < spec.minCopies))
            throw new ConfigError(
              "curation.dedup needs span_gram >= 2, min_copies >= 2, and " +
                "max_span_freq >= min_copies for strategy span_mask")
          if (spec.strategy == "keep_best" && spec.scoreColumn.isEmpty)
            throw new ConfigError(
              "curation.dedup.score_column is required for strategy keep_best " +
                "(it decides which cluster member survives)")
          if (spec.strategy != "keep_best" && spec.scoreColumn.nonEmpty)
            throw new ConfigError(
              s"curation.dedup.score_column only applies to strategy keep_best " +
                s"(got strategy '${spec.strategy}' — min-id survivors ignore scores)")
          spec
        },
        mixing = cm.get("mixing").map { m =>
          val mm = asMap(m, "curation.mixing")
          val spec = MixingSpec(
            keyColumn = str(mm, "key_column", "curation.mixing"),
            domainColumn = str(mm, "domain_column", "curation.mixing"),
            rates = asMap(mm.getOrElse("rates",
                new java.util.LinkedHashMap[String, Any]()), "curation.mixing.rates")
              .map { case (k, v) => k -> v.toString.toInt }.toMap,
            defaultPct = mm.get("default_pct").map(_.toString.toInt).getOrElse(100),
            temperature = mm.get("temperature").map(_.toString.toDouble))
          spec.temperature.foreach { a =>
            if (a < 0.0 || a > 1.0) throw new ConfigError(
              s"curation.mixing.temperature must be in [0,1], got $a")
            if (spec.rates.nonEmpty) throw new ConfigError(
              "curation.mixing: temperature and explicit rates are exclusive " +
                "(temperature DERIVES the rates from corpus counts)")
          }
          spec
        },
        budget = cm.get("budget").map { b =>
          val bm = asMap(b, "curation.budget")
          val spec = BudgetSpec(
            idColumn = str(bm, "id_column", "curation.budget"),
            scoreColumn = str(bm, "score_column", "curation.budget"),
            tokenColumn = str(bm, "token_column", "curation.budget"),
            maxTokens = bm.get("max_tokens").map(_.toString.toLong),
            domainColumn = bm.get("domain_column").map(_.toString),
            perDomain = bm.get("per_domain").map(pd =>
              asMap(pd, "curation.budget.per_domain")
                .map { case (k, v) => k -> v.toString.toLong }.toMap)
              .getOrElse(Map.empty),
            defaultDomainTokens =
              bm.get("default_domain_tokens").map(_.toString.toLong))
          (spec.maxTokens, spec.perDomain.nonEmpty) match {
            case (Some(_), true) => throw new ConfigError(
              "curation.budget: max_tokens and per_domain are exclusive " +
                "(one global cut or per-domain cuts, not both)")
            case (None, false) => throw new ConfigError(
              "curation.budget needs max_tokens or per_domain")
            case _ => ()
          }
          if (spec.maxTokens.exists(_ < 0))
            throw new ConfigError("curation.budget.max_tokens must be >= 0")
          if (spec.perDomain.isEmpty &&
              (spec.domainColumn.nonEmpty || spec.defaultDomainTokens.nonEmpty))
            throw new ConfigError(
              "curation.budget.domain_column/default_domain_tokens only " +
                "apply with per_domain (in global max_tokens mode they " +
                "would be silently ignored)")
          if (spec.perDomain.nonEmpty) {
            if (spec.domainColumn.isEmpty) throw new ConfigError(
              "curation.budget.domain_column is required with per_domain")
            if (spec.defaultDomainTokens.isEmpty) throw new ConfigError(
              "curation.budget.default_domain_tokens is required with " +
                "per_domain — an unlisted domain must be an explicit " +
                "decision, not a silent drop or free pass")
            if (spec.perDomain.values.exists(_ < 0) ||
                spec.defaultDomainTokens.exists(_ < 0))
              throw new ConfigError(
                "curation.budget per-domain budgets must be >= 0")
          }
          spec
        })
    }

    val sessions = root.get("sessions").map { s =>
      val sm = asMap(s, "sessions")
      SessionSpec(
        keyColumn = str(sm, "key_column", "sessions"),
        tsUsColumn = str(sm, "ts_us_column", "sessions"),
        tieColumn = str(sm, "tie_column", "sessions"),
        valueColumn = str(sm, "value_column", "sessions"),
        gapSec = sm.get("gap_sec").map(_.toString.toLong).getOrElse(
          throw new ConfigError("sessions.gap_sec is required")))
    }

    val retrieval = root.get("retrieval").map { r =>
      val rm = asMap(r, "retrieval")
      val spec = RetrievalSpec(
        idColumn = str(rm, "id_column", "retrieval"),
        textColumn = str(rm, "text_column", "retrieval"),
        queriesFilter = str(rm, "queries_filter", "retrieval"),
        k = rm.get("k").map(_.toString.toInt).getOrElse(10),
        maxDf = rm.get("max_df").map(_.toString.toLong)
          .getOrElse(Long.MaxValue),
        maxDfFracE6 = rm.get("max_df_frac_e6").map(_.toString.toLong)
          .getOrElse(0L),
        embeddingColumn = optStr(rm, "embedding_column"),
        fuseK = rm.get("fuse_k").map(_.toString.toInt),
        rrfK = rm.get("rrf_k").map(_.toString.toLong),
        excludeSelf = bool(rm, "exclude_self", "retrieval").getOrElse(true))
      if (spec.k < 1)
        throw new ConfigError(s"retrieval.k must be >= 1, got ${spec.k}")
      if (spec.maxDf != Long.MaxValue && spec.maxDfFracE6 > 0L)
        throw new ConfigError("retrieval: set max_df (absolute) or " +
          "max_df_frac_e6 (corpus-proportional), not both")
      if (spec.maxDfFracE6 < 0L || spec.maxDfFracE6 > 1000000L)
        throw new ConfigError("retrieval.max_df_frac_e6 must be in " +
          s"[0, 1000000], got ${spec.maxDfFracE6}")
      if (spec.embeddingColumn.isEmpty &&
          (spec.fuseK.nonEmpty || spec.rrfK.nonEmpty))
        throw new ConfigError("retrieval.fuse_k/rrf_k only apply to a " +
          "hybrid run — set embedding_column, or drop the fusion knobs")
      if (spec.fuseK.exists(_ < 1) || spec.rrfK.exists(_ < 1L))
        throw new ConfigError("retrieval.fuse_k and rrf_k must be >= 1")
      spec
    }

    val split = root.get("split").map { s =>
      val sm = asMap(s, "split")
      // weights parsed ORDER-PRESERVING (snakeyaml's LinkedHashMap): the
      // cumulative bucket map makes YAML order part of the assignment
      val weights = sm.get("weights") match {
        case Some(m: JMap[_, _]) =>
          m.asInstanceOf[JMap[String, Any]].asScala.toSeq
            .map { case (k, v) => k -> v.toString.toInt }
        case _ => throw new ConfigError("split.weights mapping is required")
      }
      val spec = SplitSpec(
        keyColumn = str(sm, "key_column", "split"),
        weights = weights,
        strategy = optStr(sm, "strategy").getOrElse("hash"),
        contentColumn = optStr(sm, "content_column"),
        ngram = sm.get("ngram").map(_.toString.toInt).getOrElse(3),
        threshold = sm.get("threshold").map(_.toString.toDouble).getOrElse(0.5),
        maxShingleFreq = sm.get("max_shingle_freq").map(_.toString.toInt)
          .getOrElse(Int.MaxValue))
      if (!SplitSpec.Strategies(spec.strategy))
        throw new ConfigError(s"split.strategy '${spec.strategy}' not in " +
          SplitSpec.Strategies.toSeq.sorted.mkString("|"))
      if (spec.weights.isEmpty || spec.weights.exists(_._2 < 0) ||
          spec.weights.map(_._2).sum != 100)
        throw new ConfigError("split.weights must be >= 0 and sum to 100, " +
          s"got ${spec.weights}")
      if (spec.strategy == "cluster" && spec.contentColumn.isEmpty)
        throw new ConfigError(
          "split.content_column is required for strategy cluster " +
            "(the near-dup pairs are generated from it)")
      if (spec.strategy == "hash" &&
          (spec.contentColumn.nonEmpty || sm.contains("ngram") ||
            sm.contains("threshold") || sm.contains("max_shingle_freq")))
        throw new ConfigError(
          "split.content_column/ngram/threshold/max_shingle_freq only " +
            "apply to strategy cluster (got strategy 'hash' — they would " +
            "be silently ignored)")
      spec
    }

    // the reference performance: block (lakehouse_config.yaml:163-173)
    val (perf, cacheSilver) = root.get("performance").map { p =>
      val pm = asMap(p, "performance")
      (PerformanceSpec(
        shufflePartitions = pm.get("shuffle_partitions").map(_.toString.toInt),
        adaptiveExecution = bool(pm, "adaptive_execution", "performance"),
        broadcastThresholdMb = pm.get("broadcast_threshold_mb").map(_.toString.toInt),
        costBasedOptimization = bool(pm, "cost_based_optimization", "performance"),
        cacheLevel = optStr(pm, "cache_level").getOrElse("MEMORY_AND_DISK")),
        bool(pm, "cache_after_transform", "performance").getOrElse(false))
    }.getOrElse((PerformanceSpec(), false))

    val features = root.get("features").map { f =>
      val fm = asMap(f, "features")
      val spec = FeaturesSpec(
        idColumn = str(fm, "id_column", "features"),
        hashText = fm.get("hash_text").map { h =>
          val hm = asMap(h, "features.hash_text")
          val c = HashFeaturesConf(
            textColumn = str(hm, "text_column", "features.hash_text"),
            nBuckets = hm.get("n_buckets").map(_.toString.toInt)
              .getOrElse(1024))
          if (c.nBuckets < 2)
            throw new ConfigError(
              s"features.hash_text.n_buckets must be >= 2, got ${c.nBuckets}")
          c
        },
        targetEncode = fm.get("target_encode").map { t =>
          val tm = asMap(t, "features.target_encode")
          val c = TargetEncodeConf(
            categoryColumn = str(tm, "category_column",
              "features.target_encode"),
            targetColumn = str(tm, "target_column",
              "features.target_encode"),
            m = tm.get("m").map(_.toString.toInt).getOrElse(10))
          if (c.m < 1)
            throw new ConfigError(
              s"features.target_encode.m must be >= 1, got ${c.m}")
          c
        })
      if (spec.hashText.isEmpty && spec.targetEncode.isEmpty)
        throw new ConfigError(
          "features: set hash_text and/or target_encode — an empty block " +
            "produces nothing")
      spec
    }

    val layout = root.get("layout").map { l =>
      val lm = asMap(l, "layout")
      val spec = LayoutSpec(
        keyColumn = str(lm, "key_column", "layout"),
        nShards = lm.get("n_shards").map(_.toString.toInt).getOrElse(
          throw new ConfigError("layout.n_shards is required")),
        previousNShards = lm.get("previous_n_shards").map(_.toString.toInt))
      if (spec.nShards < 1)
        throw new ConfigError(
          s"layout.n_shards must be >= 1, got ${spec.nShards}")
      if (spec.previousNShards.exists(_ < 1))
        throw new ConfigError("layout.previous_n_shards must be >= 1")
      if (spec.previousNShards.contains(spec.nShards))
        throw new ConfigError("layout.previous_n_shards equals n_shards " +
          "- a no-op migration plan; drop previous_n_shards for the " +
          "balance report")
      spec
    }

    PipelineConfig(version, name, bronze, silver, gold, quality, perf,
      cacheSilver, curation, sessions, retrieval, split, features, layout)
  }
}
