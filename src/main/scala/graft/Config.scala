package graft

/** Layered runtime configuration for the entry points (Bench / Verify /
  * Probe): `--key=value` argv beats environment beats properties
  * file beats built-in default — the reference's config precedence
  * (reference etl.js:10-12: argv overrides env overrides config.json).
  *
  * The file layer is a `java.util.Properties` file whose path comes
  * from the `GRAFT_CONF` environment variable (default `graft.conf` in
  * the working directory); a missing file is an empty layer, not an
  * error — same leniency as the reference's optional config.json.
  */
final case class Config(
    argv: Map[String, String],
    env: Map[String, String],
    file: Map[String, String]) {

  /** Resolve `key` through the layers. `key` names the argv/file
    * property (kebab-case); `envKey` names the environment variable.
    */
  def get(key: String, envKey: String, default: => String): String =
    argv.getOrElse(key, env.getOrElse(envKey, file.getOrElse(key, default)))
}

object Config {

  /** `--key=value` tokens only; anything else (positional args like
    * Verify's `<sfDir> <outDir>`) is left to the caller.
    */
  def parseArgv(args: Array[String]): Map[String, String] =
    args.iterator
      .filter(a => a.startsWith("--") && a.contains('='))
      .map { a =>
        val Array(k, v) = a.drop(2).split("=", 2)
        k -> v
      }
      .toMap

  def loadFile(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(f)
      try p.load(in)
      finally in.close()
      import scala.jdk.CollectionConverters._
      p.asScala.toMap
    }
  }

  /** A forced-arm selector for an operator with an auto-selected arm
    * pair: the explicit parameter wins, else the `envKey` environment
    * variable as `on`/`off`, else None (the operator's auto-select
    * decides). Any other env value fails fast instead of silently
    * forcing an arm on a typo ("ON", "true", "1").
    */
  def armOverride(param: Option[Boolean], envKey: String): Option[Boolean] =
    param.orElse(sys.env.get(envKey).map {
      case "on" => true
      case "off" => false
      case other => throw new IllegalArgumentException(s"$envKey must be 'on' or 'off'; got '$other'")
    })

  /** Standard layering for a `main(args)`: argv > real env > the
    * GRAFT_CONF properties file.
    */
  def apply(args: Array[String]): Config =
    Config(
      parseArgv(args),
      sys.env,
      loadFile(sys.env.getOrElse("GRAFT_CONF", "graft.conf")))
}
