package graft.config

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

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
    def error(yaml: String) = (the[ConfigLoader.ConfigError] thrownBy
      ConfigLoader.parse(yaml, env = Map.empty)).getMessage
    error(baseYaml.replace("fail_on_error: true", "fail_on_error: \"true\"")) shouldBe
      "quality.fail_on_error: expected true or false, got 'true'"
    error(baseYaml.replace("group_by: [year]", "group_by: [year]\n    rollup: 1")) shouldBe
      "gold[].rollup: expected true or false, got '1'"
    error(baseYaml + "performance:\n  cache_after_transform: yes please\n") should
      include("performance.cache_after_transform")
  }
}
