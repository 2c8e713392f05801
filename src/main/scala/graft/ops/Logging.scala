package graft.ops

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.FileAppender
import org.apache.logging.log4j.core.config.Configurator
import org.apache.logging.log4j.core.layout.PatternLayout

/** Runtime logging setup, the analog of the reference's `setup_logging`
  * (`/root/reference/src/movie.py:86-95`): a verbosity level plus an
  * optional log FILE in the reference's line format
  * (`%(asctime)s %(levelname)-8s %(message)s`).
  *
  * One deliberate delta: the reference calls `setup_logging` on every
  * run (console INFO by default); here [[setupFromConf]] reconfigures
  * ONLY when the user actually set `--log-level`/`LOG_LEVEL` or
  * `--log-file`/`LOG_FILE`, so the packaged `log4j2.properties`
  * (rootLogger=warn, keeping Spark's own chatter down) stays in charge
  * by default.
  */
object Logging {

  /** Set the root level and optionally tee all logging to `file`.
    * An unknown level falls back to INFO — `getattr(logging, level,
    * INFO)` in the reference.
    */
  def setup(level: String, file: Option[String] = None): Unit = {
    val lvl = Level.toLevel(level, Level.INFO)
    file.foreach { f =>
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val config = ctx.getConfiguration
      val layout = PatternLayout.newBuilder()
        .withConfiguration(config)
        .withPattern("%d{yyyy-MM-dd HH:mm:ss} %-8p %m%n")
        .build()
      val appender = new FileBuilder().setName("graft-log-file")
        .withFileName(f).setLayout(layout).setConfiguration(config).build()
      appender.start()
      config.addAppender(appender)
      config.getRootLogger.addAppender(appender, lvl, null)
      ctx.updateLoggers()
    }
    Configurator.setRootLevel(lvl)
  }

  /** log4j2's file-appender builder with its recursive type parameter
    * bound: `FileAppender.newBuilder()` leaves it to inference, which
    * scalac resolves to Nothing. */
  private final class FileBuilder extends FileAppender.Builder[FileBuilder]

  /** Apply `--log-level` / `--log-file` from the layered config iff the
    * user set either (movie.py:314-315 wires the same two argparse flags
    * into setup_logging).
    */
  def setupFromConf(conf: Conf.Layered): Unit = {
    val level = conf.get("log-level", "LOG_LEVEL")
    val file = conf.get("log-file", "LOG_FILE")
    if (level.isDefined || file.isDefined) setup(level.getOrElse("INFO"), file)
  }
}
