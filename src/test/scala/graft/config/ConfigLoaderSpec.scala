package graft.config

import java.util.{List => JList, Map => JMap}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.yaml.snakeyaml.Yaml

class ConfigLoaderSpec extends AnyFunSuite with Matchers {

  private val baseYaml =
    """version: "1.0"
      |pipeline:
      |  name: taxi
      |bronze:
      |  source:
      |    type: file
      |    path: /data/${DATASET:-yellow}.parquet
      |  target_path: /lake/bronze
      |  partition_by: [year, month]
      |silver:
      |  renames:
      |    PULocationID: pickup_location_id
      |  casts:
      |    - {column: fare_amount, type: "decimal(10,2)"}
      |  derived_columns:
      |    - {name: year, expression: "year(pickup_datetime)"}
      |  filters: ["fare_amount > 0"]
      |  dedupe:
      |    keys: [pickup_datetime, pickup_location_id]
      |    order_by: ["pickup_datetime DESC"]
      |gold:
      |  - name: daily
      |    group_by: [year]
      |    measures:
      |      - {name: trips, expression: "count(*)"}
      |quality:
      |  null_check_columns: [fare_amount]
      |  expectations:
      |    - {kind: mean_between, column: fare_amount, lo: 0.0, hi: 100.0}
      |    - {kind: row_count_between, lo: 1000}
      |  fail_on_error: true
      |""".stripMargin

  test("parses the full surface with env default") {
    val c = ConfigLoader.parse(baseYaml, env = Map.empty)
    c.version shouldBe "1.0"
    c.name shouldBe "taxi"
    c.bronze.get.source.path shouldBe "/data/yellow.parquet"
    c.bronze.get.partitionBy shouldBe Seq("year", "month")
    c.silver.renames shouldBe Seq("PULocationID" -> "pickup_location_id")
    c.silver.casts.head.dataType shouldBe "decimal(10,2)"
    c.silver.dedupe.get.keys should have size 2
    c.gold.head.measures.head.expression shouldBe "count(*)"
    c.quality.failOnError shouldBe true
    c.quality.expectations shouldBe Seq(
      ExpectationSpec("mean_between", "fare_amount", 0.0, 100.0),
      ExpectationSpec("row_count_between", "*", 1000.0, Double.PositiveInfinity))
    // a key no run reads still loads: unknown keys pass through
    ConfigLoader.parse(baseYaml + "performance:\n  collect_histograms: true\n",
      env = Map.empty).performance shouldBe PerformanceSpec()
  }

  test("${VAR} expansion uses the environment and errors when unset") {
    val c = ConfigLoader.parse(baseYaml, env = Map("DATASET" -> "green"))
    c.bronze.get.source.path shouldBe "/data/green.parquet"
    val noDefault = baseYaml.replace("${DATASET:-yellow}", "${DATASET}")
    val e = the[ConfigLoader.ConfigError] thrownBy
      ConfigLoader.parse(noDefault, env = Map.empty)
    e.getMessage should include("DATASET")
  }

  test("environment overlay deep-merges over the base") {
    val overlay =
      """bronze:
        |  mode: append
        |quality:
        |  fail_on_error: false
        |""".stripMargin
    val c = ConfigLoader.parse(baseYaml, Some(overlay), env = Map.empty)
    c.bronze.get.mode shouldBe "append"
    c.bronze.get.targetPath shouldBe "/lake/bronze" // kept from base
    c.quality.failOnError shouldBe false
    c.quality.nullCheckColumns shouldBe Seq("fare_amount") // kept from base
  }

  test("validation: bad source type and bad version fail clearly") {
    val badType = baseYaml.replace("type: file", "type: carrier_pigeon")
    (the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(badType, env = Map.empty))
      .getMessage should include("carrier_pigeon")
    val badVer = baseYaml.replace("version: \"1.0\"", "version: \"abc\"")
    (the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(badVer, env = Map.empty))
      .getMessage should include("version")
    // a typo'd expectation kind must fail at load, not silently disable a gate
    val badKind = baseYaml.replace("kind: mean_between", "kind: mean_betwen")
    (the[ConfigLoader.ConfigError] thrownBy ConfigLoader.parse(badKind, env = Map.empty))
      .getMessage should include("mean_betwen")
  }

  test("a quoted or numeric boolean fails naming its key") {
    error(baseYaml.replace("fail_on_error: true", "fail_on_error: \"true\"")) shouldBe
      "quality.fail_on_error: expected true or false, got 'true'"
    error(baseYaml.replace("group_by: [year]", "group_by: [year]\n    rollup: 1")) shouldBe
      "gold[0].rollup: expected true or false, got '1'"
    error(baseYaml + "performance:\n  cache_after_transform: yes please\n") should
      include("performance.cache_after_transform")
  }

  private def error(yaml: String): String = (the[ConfigLoader.ConfigError] thrownBy
    ConfigLoader.parse(yaml, env = Map.empty)).getMessage

  private def withDedup(keys: String*): String = baseYaml +
    """curation:
      |  dedup:
      |    strategy: minhash_lsh
      |    id_column: id
      |    content_column: text
      |""".stripMargin + keys.map(k => s"    $k\n").mkString

  private def withStrategy(strategy: String, keys: String*): String =
    withDedup(keys: _*).replace("strategy: minhash_lsh", s"strategy: $strategy")

  // (key: value, a strategy that ignores it, every strategy that reads it
  // in Curation.applyDedup)
  Seq(
    ("threshold: 0.9", "exact",
      "embedding_lsh/keep_best/minhash_lsh/ngram_jaccard/semantic/winnow_jaccard"),
    ("ngram: 4", "simhash", "keep_best/minhash_lsh/ngram_jaccard/winnow/winnow_jaccard"),
    ("max_shingle_freq: 50", "minhash_lsh", "keep_best/ngram_jaccard/winnow/winnow_jaccard"),
    ("num_hashes: 16", "ngram_jaccard", "minhash_lsh"),
    ("num_bands: 8", "canonical", "minhash_lsh"),
    ("max_hamming: 3", "minhash_lsh", "simhash"),
    ("num_planes: 6", "semantic", "embedding_lsh"),
    ("dim: 8", "prefix", "embedding_lsh")
  ).foreach { case (kv, ignoring, readers) =>
    val key = kv.takeWhile(_ != ':')
    test(s"dedup $key fails under a strategy that ignores it, loads under each reader") {
      error(withStrategy(ignoring, kv)) shouldBe
        s"curation.dedup.$key: only applies to strategy $readers " +
          s"(got strategy '$ignoring' — it would be silently ignored)"
      for (reader <- readers.split("/")) withClue(s"$reader: ") {
        // the keys a reader requires besides the one under test
        val required = reader match {
          case "keep_best" => Seq("score_column: s")
          case "embedding_lsh" if key != "dim" => Seq("dim: 8")
          case _ => Nil
        }
        ConfigLoader.parse(withStrategy(reader, kv +: required: _*),
          env = Map.empty).curation.get.dedup.get.strategy shouldBe reader
      }
    }
  }

  test("a non-number fails naming its key") {
    ConfigLoader.parse(withDedup("threshold: 0.9"), env = Map.empty)
      .curation.get.dedup.get.threshold shouldBe 0.9
    error(withDedup("threshold: 0.8x")) shouldBe
      "curation.dedup.threshold: expected a number, got '0.8x'"
  }

  test("a fraction or an Int overflow fails naming its key") {
    ConfigLoader.parse(withDedup("ngram: 4"), env = Map.empty)
      .curation.get.dedup.get.ngram shouldBe 4
    error(withDedup("ngram: 3.5")) shouldBe
      "curation.dedup.ngram: expected an integer, got '3.5'"
    error(withDedup("ngram: 3000000000")) shouldBe
      "curation.dedup.ngram: expected an integer, got '3000000000'"
  }

  test("a missing key names the indexed list entry") {
    error(baseYaml + "  range_checks:\n    - {min: 0}\n") shouldBe
      "quality.range_checks[0]: required key 'column' is missing"
  }

  test("a scalar where a list belongs names its key") {
    error(baseYaml.replace("null_check_columns: [fare_amount]",
      "null_check_columns: fare_amount")) shouldBe
      "quality.null_check_columns: expected a list, got 'fare_amount'"
  }

  test("a non-string fails instead of running on the default") {
    error(baseYaml.replace("  target_path:", "  mode: 5\n  target_path:")) shouldBe
      "bronze.mode: expected a string, got '5'"
  }

  test("an unread key near a read one is a typo; far keys and user keys load") {
    error(withDedup("thresold: 0.95")) shouldBe
      "curation.dedup.thresold: unknown key; did you mean threshold?"
    error(baseYaml.replace("quality:", "qualty:")) shouldBe
      "qualty: unknown key; did you mean quality?"
    error(withDedup("ngrm: 4")) should startWith("curation.dedup.ngrm: unknown key")
    // under 4 characters only distance 1 counts: `dm` is near `dim`, `km` is not
    error(withDedup("dm: 4")) shouldBe "curation.dedup.dm: unknown key; did you mean dim?"
    ConfigLoader.parse(withDedup("km: 4"), env = Map.empty).curation.get.dedup
      .get.strategy shouldBe "minhash_lsh"
    // keys of user-keyed maps are data, never checked against the block's
    val mixing = baseYaml + """curation:
      |  mixing:
      |    key_column: id
      |    domain_column: source
      |    rates: {wiki: 10, wikii: 20, key_column: 30}
      |""".stripMargin
    ConfigLoader.parse(mixing, env = Map.empty).curation.get.mixing.get.rates shouldBe
      Map("wiki" -> 10, "wikii" -> 20, "key_column" -> 30)
  }

  /** (dotted path, steps from the root, value) of every scalar leaf. */
  private def leaves(node: Any, path: String = "",
      steps: Vector[Any] = Vector.empty): Seq[(String, Vector[Any], Any)] = node match {
    case m: JMap[_, _] => m.asScala.toSeq.flatMap { case (k, v) =>
      leaves(v, if (path.isEmpty) s"$k" else s"$path.$k", steps :+ k)
    }
    case l: JList[_] => l.asScala.toSeq.zipWithIndex.flatMap { case (v, i) =>
      leaves(v, s"$path[$i]", steps :+ i)
    }
    case v => Seq((path, steps, v))
  }

  test("every numeric and boolean leaf of the shipped configs fails at its path") {
    val files = Seq("examples/events_pipeline.yaml",
      "examples/curation_pipeline.yaml", "perfbench/configs/taxi_pipeline.yaml")
    val edits = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8")
      ConfigLoader.parse(text, env = Map.empty) // loads as shipped
      leaves(new Yaml().load[Any](text)).collect {
        case (path, steps, _: Number) => (text, path, steps, "x")
        case (path, steps, _: java.lang.Boolean) => (text, path, steps, "yes please")
      }
    }
    edits.count(_._4 == "x") should be > 20
    edits.count(_._4 == "yes please") should be >= 3
    edits.foreach { case (text, path, steps, bad) =>
      val tree = new Yaml().load[Any](text)
      steps.init.foldLeft(tree) {
        case (m: JMap[_, _], k) => m.get(k)
        case (l: JList[_], i) => l.get(i.asInstanceOf[Int])
        case (other, _) => other
      } match {
        case m: JMap[_, _] => m.asInstanceOf[JMap[Any, Any]].put(steps.last, bad)
        case l: JList[_] => l.asInstanceOf[JList[Any]].set(steps.last.asInstanceOf[Int], bad)
        case other => fail(s"$path: parent is not a collection: $other")
      }
      withClue(s"$path = $bad: ") {
        error(new Yaml().dump(tree)) should startWith(s"$path: expected ")
      }
    }
  }
}
