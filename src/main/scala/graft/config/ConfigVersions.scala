package graft.config

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** Config versioning + migration
  * (reference: src/config_version_manager.py:15-171): supported-version
  * registry, a migration-function registry keyed `"<from>_to_<to>"`, and
  * the reference's fallback — when no migration function is registered,
  * bump the version field only (a backward-compatible change) with a
  * warning.
  *
  * Operates on the RAW parsed YAML tree (the same snakeyaml maps
  * `ConfigLoader` consumes), so migrations can reshape keys before the
  * case-class mapping ever sees them.
  */
object ConfigVersions {

  import ConfigLoader.ConfigError

  /** SUPPORTED_VERSIONS / CURRENT_VERSION (config_version_manager.py:19-20). */
  val supportedVersions: Seq[String] = Seq("v1.0", "v1.1")
  val currentVersion: String = "v1.0"

  /** Registered migrations, keyed `"<from>_to_<to>"` — the reference keeps
    * the registry empty and documents the shape; new entries reshape the raw
    * tree (e.g. `_.updated("pipeline", ...defaults...)`). */
  private val migrations: Map[String, Map[String, Any] => Map[String, Any]] =
    Map.empty

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `config.get("version", "v1.0")` (config_version_manager.py:41). */
  def versionOf(tree: Map[String, Any]): String =
    tree.get("version").map(_.toString).getOrElse("v1.0")

  def isSupported(v: String): Boolean = supportedVersions.contains(v)

  /** Migrate a config tree to `target` (default current). Same version →
    * unchanged; unsupported source or target → error; registered migration
    * runs, otherwise only the version field updates (the reference's
    * backward-compatible fallback, config_version_manager.py:112-124). */
  def migrate(tree: Map[String, Any],
      target: String = currentVersion): Map[String, Any] = {
    val from = versionOf(tree)
    if (from == target) return tree
    if (!isSupported(from))
      throw new ConfigError(s"unsupported configuration version: $from " +
        s"(supported: ${supportedVersions.mkString(", ")})")
    if (!isSupported(target))
      throw new ConfigError(s"unsupported target version: $target " +
        s"(supported: ${supportedVersions.mkString(", ")})")
    val key = s"${from}_to_$target"
    migrations.get(key) match {
      case Some(fn) => fn(tree).updated("version", target)
      case None =>
        log.warn(s"no migration function for $key, updating version only")
        tree.updated("version", target)
    }
  }

  /** Java-map tree (as snakeyaml loads it) → scala map, one level. */
  private[config] def treeOf(loaded: Any): Map[String, Any] = loaded match {
    case m: JMap[_, _] => m.asInstanceOf[JMap[String, Any]].asScala.toMap
    case other =>
      throw new ConfigError(s"expected a mapping at the config root, " +
        s"got ${if (other == null) "null" else other.getClass.getSimpleName}")
  }
}
