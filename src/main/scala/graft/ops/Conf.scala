package graft.ops

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Layered runtime configuration (C6's missing half): the reference
  * resolves every setting as CLI flag → process env → `.env` file →
  * hard default (`/root/reference/src/movie.py:33-68,300-312`), with two
  * load-bearing details this mirrors exactly:
  *
  *  - `.env` DISCOVERY walks a candidate list (project root, script dir,
  *    invocation dir, cwd) and loads the FIRST existing file only
  *    (movie.py:46-56) — later candidates never merge in;
  *  - the file is loaded with override=False (movie.py:54): a variable
  *    already present in the process environment ALWAYS beats the file.
  *
  * Required keys with no value anywhere fail fast with an instruction,
  * like the reference's bearer-token guard (movie.py:71-73).
  *
  * Driver-side only — config resolution happens once, before any Spark
  * plan is built, so nothing here touches the session.
  */
object Conf {

  /** Parse `.env` content: `KEY=VALUE` lines, `#` comments and blanks
    * skipped, optional `export ` prefix, optional single/double quotes
    * around the value (the python-dotenv subset the reference relies on).
    */
  def parseDotEnv(lines: Seq[String]): Map[String, String] =
    lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(l => if (l.startsWith("export ")) l.drop("export ".length).trim else l)
      .filter(_.contains('='))
      .map { l =>
        val i = l.indexOf('=')
        val k = l.take(i).trim
        val raw = l.drop(i + 1).trim
        val v =
          if (raw.length >= 2 &&
              ((raw.head == '"' && raw.last == '"') || (raw.head == '\'' && raw.last == '\'')))
            raw.substring(1, raw.length - 1)
          else raw
        k -> v
      }
      .toMap

  /** First existing `.env` among `candidates` (deduplicated, order kept) —
    * the reference's multi-path discovery (movie.py:46-56). */
  def discoverDotEnv(candidates: Seq[Path]): Option[Path] =
    candidates.distinct.find(Files.isRegularFile(_))

  /** The reference's default candidate order for a program rooted at
    * `appDir` (movie.py:34-44): project root (appDir's parent), the app
    * dir itself, cwd. The reference anchors `appDir` to the SCRIPT's
    * location (movie.py:36-38), never cwd — so when the caller only
    * knows cwd (appDir == cwd), the parent candidate is dropped: a stray
    * `../.env` above the invocation directory must not beat `./.env`.
    */
  def defaultCandidates(appDir: Path, cwd: Path): Seq[Path] = {
    val app = appDir.toAbsolutePath.normalize
    val c = cwd.toAbsolutePath.normalize
    val parent =
      if (app == c) None
      else Option(app.getParent).map(_.resolve(".env"))
    (parent.toSeq :+ app.resolve(".env")) :+ c.resolve(".env")
  }

  /** `--key value` CLI pairs → map (movie.py:300-311's argparse shape).
    * A trailing flag with no value and non-`--` tokens are rejected so a
    * malformed command line fails loudly, not half-parsed.
    */
  def parseArgs(argv: Seq[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var rest = argv.toList
    while (rest.nonEmpty) rest match {
      case flag :: value :: tail if flag.startsWith("--") && !value.startsWith("--") =>
        out += (flag.drop(2) -> value); rest = tail
      case bad =>
        throw new IllegalArgumentException(
          s"malformed CLI args at '${bad.head}' — expected --key value pairs")
    }
    out.result()
  }

  /** Resolved layered config. `env` defaults to the live process
    * environment; tests inject their own.
    */
  final case class Layered(
      cli: Map[String, String],
      env: Map[String, String],
      dotEnv: Map[String, String]) {

    /** CLI flag → process env → `.env` → None. */
    def get(key: String, envKey: String): Option[String] =
      cli.get(key).orElse(env.get(envKey)).orElse(dotEnv.get(envKey))

    def getOrElse(key: String, envKey: String, default: String): String =
      get(key, envKey).getOrElse(default)

    /** Fail fast with an instruction when a required key is absent
      * everywhere (movie.py:71-73's bearer-token guard). */
    def required(key: String, envKey: String): String =
      get(key, envKey).getOrElse(
        throw new RuntimeException(
          s"missing required config '$key': set --$key, the $envKey env var, or $envKey in .env"))
  }

  /** Assemble the full cascade: parse argv, discover + parse the first
    * `.env` among `candidates`, snapshot the process env. */
  def load(argv: Seq[String], candidates: Seq[Path],
      env: Map[String, String] = System.getenv().asScala.toMap): Layered = {
    val dotEnv = discoverDotEnv(candidates)
      .map(p => parseDotEnv(Files.readAllLines(p).asScala.toSeq))
      .getOrElse(Map.empty)
    Layered(parseArgs(argv), env, dotEnv)
  }
}
