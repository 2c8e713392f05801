package graft

import java.nio.file.Files

import graft.ops.Conf
import org.scalatest.funsuite.AnyFunSuite

/** Layered config cascade (C6): CLI flag > process env > first-found
  * `.env` > default, with the reference's override=False and multi-path
  * discovery semantics (movie.py:33-68,300-312).
  */
class ConfSpec extends AnyFunSuite {

  test("dotenv parser: comments, blanks, export prefix, quotes") {
    val parsed = Conf.parseDotEnv(Seq(
      "# a comment",
      "",
      "PLAIN=value",
      "export EXPORTED=yes",
      "DQ=\"quoted value\"",
      "SQ='single'",
      "EQ_IN_VALUE=a=b",
      "  PADDED  =  padded  ",
      "NOEQUALS_IGNORED"))
    assert(parsed == Map(
      "PLAIN" -> "value", "EXPORTED" -> "yes", "DQ" -> "quoted value",
      "SQ" -> "single", "EQ_IN_VALUE" -> "a=b", "PADDED" -> "padded"))
  }

  test("discovery loads the FIRST existing candidate only") {
    val d1 = Files.createTempDirectory("conf1") // no .env here
    val d2 = Files.createTempDirectory("conf2")
    val d3 = Files.createTempDirectory("conf3")
    Files.write(d2.resolve(".env"), "WINNER=d2".getBytes)
    Files.write(d3.resolve(".env"), "WINNER=d3\nONLY_D3=x".getBytes)
    val conf = Conf.load(Nil,
      Seq(d1.resolve(".env"), d2.resolve(".env"), d3.resolve(".env")),
      env = Map.empty)
    assert(conf.dotEnv == Map("WINNER" -> "d2")) // d3 is NOT merged in
  }

  test("cascade order: cli beats env beats dotenv beats default") {
    val layered = Conf.Layered(
      cli = Map("from" -> "cli-wins"),
      env = Map("DATE_FROM" -> "env", "DATE_TO" -> "env-wins"),
      dotEnv = Map("DATE_FROM" -> "file", "DATE_TO" -> "file", "LANGUAGE" -> "file-wins"))
    assert(layered.getOrElse("from", "DATE_FROM", "dflt") == "cli-wins")
    assert(layered.getOrElse("to", "DATE_TO", "dflt") == "env-wins") // override=False
    assert(layered.getOrElse("lang", "LANGUAGE", "dflt") == "file-wins")
    assert(layered.getOrElse("min-votes", "MIN_VOTES", "0") == "0")
  }

  test("required key missing everywhere fails fast with an instruction") {
    val layered = Conf.Layered(Map.empty, Map.empty, Map.empty)
    val e = intercept[RuntimeException] { layered.required("bearer", "TMDB_BEARER") }
    assert(e.getMessage.contains("TMDB_BEARER"))
  }

  test("arg parsing: --key value pairs; malformed input rejected") {
    assert(Conf.parseArgs(Seq("--from", "2021-01-01", "--to", "2023-12-31"))
      == Map("from" -> "2021-01-01", "to" -> "2023-12-31"))
    assert(Conf.parseArgs(Nil) == Map.empty)
    intercept[IllegalArgumentException] { Conf.parseArgs(Seq("--from")) } // dangling flag
    intercept[IllegalArgumentException] { Conf.parseArgs(Seq("bare")) }
  }

  test("end-to-end load: env snapshot beats discovered file") {
    val d = Files.createTempDirectory("confE2E")
    Files.write(d.resolve(".env"), "DATE_FROM=file\nLANGUAGE=fr-FR".getBytes)
    val conf = Conf.load(Seq("--min-votes", "5"), Seq(d.resolve(".env")),
      env = Map("DATE_FROM" -> "from-env"))
    assert(conf.getOrElse("from", "DATE_FROM", "x") == "from-env")
    assert(conf.getOrElse("lang", "LANGUAGE", "x") == "fr-FR")
    assert(conf.getOrElse("min-votes", "MIN_VOTES", "0") == "5")
  }

  test("default candidates: parent .env dropped when appDir is just cwd") {
    val cwd = Files.createTempDirectory("confCwd")
    // appDir == cwd: a stray ../.env must NOT be consulted before ./.env
    val anchored = Conf.defaultCandidates(cwd, cwd)
    assert(anchored == Seq(cwd.resolve(".env"), cwd.resolve(".env")).map(_.toAbsolutePath.normalize))
    // a real install dir keeps the reference's project-root-first order
    val install = cwd.resolve("app").resolve("lib")
    val spread = Conf.defaultCandidates(install, cwd)
    assert(spread.head == cwd.resolve("app").resolve(".env").toAbsolutePath.normalize)
    assert(spread.last == cwd.resolve(".env").toAbsolutePath.normalize)
  }

  test("logging setup: level + file appender mirror setup_logging") {
    val f = Files.createTempDirectory("log").resolve("graft.log").toString
    val before = org.apache.logging.log4j.LogManager.getRootLogger.getLevel
    try {
      graft.ops.Logging.setup("DEBUG", Some(f))
      assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel
        == org.apache.logging.log4j.Level.DEBUG)
      val log = org.apache.logging.log4j.LogManager.getLogger("graft.conf-spec")
      log.info("logging-spec-marker")
      // FileAppender defaults to immediateFlush — readable right away
      val content = new String(Files.readAllBytes(java.nio.file.Path.of(f)), "UTF-8")
      assert(content.contains("logging-spec-marker"))
      assert(content.contains("INFO")) // the reference's %(levelname)-8s field
    } finally {
      org.apache.logging.log4j.core.config.Configurator.setRootLevel(before)
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      ctx.getConfiguration.getRootLogger.removeAppender("graft-log-file")
      ctx.updateLoggers()
    }
  }

  test("logging setupFromConf: untouched unless the user set a key") {
    val before = org.apache.logging.log4j.LogManager.getRootLogger.getLevel
    graft.ops.Logging.setupFromConf(Conf.Layered(Map.empty, Map.empty, Map.empty))
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel == before)
  }
}
