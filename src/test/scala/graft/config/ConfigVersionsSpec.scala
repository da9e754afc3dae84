package graft.config

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Mirrors src/config_version_manager.py:15-171 semantics. */
class ConfigVersionsSpec extends AnyFunSuite with Matchers {

  test("version detection defaults to v1.0 like the reference") {
    ConfigVersions.versionOf(Map("version" -> "v1.1")) shouldBe "v1.1"
    ConfigVersions.versionOf(Map.empty) shouldBe "v1.0"
  }

  test("supported-version registry") {
    ConfigVersions.isSupported("v1.0") shouldBe true
    ConfigVersions.isSupported("v1.1") shouldBe true
    ConfigVersions.isSupported("v2.0") shouldBe false
  }

  test("migrate: same version unchanged, fallback bumps version only") {
    val tree = Map[String, Any]("version" -> "v1.0", "pipeline" -> "x")
    ConfigVersions.migrate(tree, "v1.0") shouldBe theSameInstanceAs(tree)
    val up = ConfigVersions.migrate(tree, "v1.1")
    up("version") shouldBe "v1.1"
    up("pipeline") shouldBe "x" // everything else preserved
  }

  test("migrate: unsupported source or target raises ConfigError") {
    a[ConfigLoader.ConfigError] should be thrownBy
      ConfigVersions.migrate(Map("version" -> "v0.9"), "v1.0")
    a[ConfigLoader.ConfigError] should be thrownBy
      ConfigVersions.migrate(Map("version" -> "v1.0"), "v9.9")
  }

  test("ConfigLoader.parse migrates the raw tree before mapping") {
    val yaml =
      """version: "v1.0"
        |pipeline:
        |  name: taxi
        |""".stripMargin
    val c = ConfigLoader.parse(yaml, env = Map.empty, migrateTo = Some("v1.1"))
    c.version shouldBe "v1.1"
    c.name shouldBe "taxi"
  }
}
