package graft

import java.nio.file.Files

import graft.ops.{Conf, MovieOps}
import graft.pipeline.{Backfill, BackfillCli}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Resume semantics of the checkpointed backfill (movie.py:247-299):
  * skip-if-done, crash-then-rerun convergence, cross-month global dedup.
  */
class BackfillSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  /** `tag` marks the titles (which month a survivor came from); `tap`
    * runs on every row as the frame is evaluated. */
  private def raw(ids: Seq[Long], tag: String = "", tap: Row => Row = identity): DataFrame = {
    val rows = ids.map(i => Row(
      i, s"Movie $i$tag", s"Movie $i OT", "2023-01-15", Seq(28),
      7.0, 100L, 50.0, "en", "o", s"/p$i.jpg"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1).map(tap), MovieOps.RawSchema)
  }

  // five months whose ids overlap their neighbours', titled by month, so
  // the master shows which month each survivor came from
  private val From = "2023-01-01"
  private val To = "2023-05-31"
  private val Keys = MovieOps.monthRanges(From, To).map { case (ms, me) => s"${ms}_$me" }
  private def monthIds(ms: String): Seq[Long] = {
    val m = ms.substring(5, 7).toLong
    Seq(10 * m, 10 * m + 1, 10 * (m + 1))
  }

  private def runMonths(dir: String, fetch: (String, String) => DataFrame,
      onProgress: (String, Int, Int) => Unit = (_, _, _) => ()): Backfill.Result =
    Backfill.run(spark, dir, s"$dir/cp.json", From, To,
      "https://cdn/", "w500", Map(28 -> "Action"), fetch, onProgress)

  private def masterRows(dir: String): Seq[Row] =
    spark.read.parquet(s"$dir/${MovieOps.masterPaths(From, To)._2}")
      .orderBy("tmdb_id").collect().toSeq

  /** The master of an uninterrupted run over the five months. */
  private lazy val uninterrupted: Seq[Row] = {
    val dir = Files.createTempDirectory("bf-ref").toString
    runMonths(dir, (ms, _) => raw(monthIds(ms), s" @ $ms"))
    masterRows(dir)
  }

  test("skip-if-done: second run fetches nothing new") {
    val dir = Files.createTempDirectory("bf").toString
    val cp = s"$dir/cp.json"
    var fetches = 0
    def fetch(ms: String, me: String): DataFrame = { fetches += 1; raw(Seq(1L, 2L)) }
    val r1 = Backfill.run(spark, dir, cp, "2023-01-01", "2023-02-28",
      "https://cdn/", "w500", Map(28 -> "Action"), fetch)
    assert(r1.processedMonths == Seq("2023-01-01_2023-01-31", "2023-02-01_2023-02-28"))
    assert(fetches == 2)
    val r2 = Backfill.run(spark, dir, cp, "2023-01-01", "2023-02-28",
      "https://cdn/", "w500", Map(28 -> "Action"), fetch)
    assert(r2.processedMonths.isEmpty)
    assert(fetches == 2) // no re-fetch of completed months
  }

  test("BackfillCli: layered config drives source -> backfill -> masters end-to-end") {
    // the reference's __main__: config cascade + paged source + backfill
    val pagesDir = Files.createTempDirectory("cli-pages")
    def writeMonth(ms: String, me: String, ids: Seq[Int]): Unit = {
      val d = pagesDir.resolve(s"${ms}_$me")
      Files.createDirectories(d)
      val lines = ids.map(i =>
        s"""{"id": $i, "title": "Movie $i", "release_date": "$ms", "genre_ids": [28],
           |"vote_average": 7.0, "vote_count": 10, "popularity": $i.0,
           |"original_language": "en", "overview": "o", "poster_path": "/p$i.jpg"}"""
          .stripMargin.replaceAll("\n", " "))
      Files.write(d.resolve("page-00001.json"), lines.mkString("\n").getBytes("UTF-8"))
    }
    writeMonth("2023-01-01", "2023-01-31", Seq(1, 2, 3))
    writeMonth("2023-02-01", "2023-02-28", Seq(3, 4)) // id 3 repeats across months
    val outDir = Files.createTempDirectory("cli-out").toString
    val conf = Conf.Layered(
      cli = Conf.parseArgs(Seq(
        "--pages-dir", pagesDir.toString, "--out-dir", outDir,
        "--from", "2023-01-01", "--to", "2023-02-28")),
      env = Map("GENRES" -> "28:Action"), // env layer supplies the dim
      dotEnv = Map("DATE_FROM" -> "1999-01-01")) // must lose to the CLI flag
    val r1 = BackfillCli.run(spark, conf)
    assert(r1.processedMonths.size == 2)
    assert(r1.masterRows == 4) // ids 1-4, cross-month dup of 3 deduped
    val (csvName, _) = MovieOps.masterPaths("2023-01-01", "2023-02-28")
    assert(new java.io.File(s"$outDir/$csvName").exists())
    val master = spark.read.parquet(s"$outDir/tmdb_movies_2023.parquet")
    val row = master.filter(col("tmdb_id") === 1).head()
    assert(row.getAs[String]("genres") == "Action")
    assert(row.getAs[String]("poster_url") == "https://image.tmdb.org/t/p/w500/p1.jpg")
    // rerun: checkpoint makes it a no-op
    val r2 = BackfillCli.run(spark, conf)
    assert(r2.processedMonths.isEmpty)
    // missing required key fails fast with the instruction
    val e = intercept[RuntimeException] {
      BackfillCli.run(spark, Conf.Layered(Map.empty, Map.empty, Map.empty))
    }
    assert(e.getMessage.contains("PAGES_DIR"))
  }

  test("backfill runs end-to-end over the live HTTP transport") {
    // the reference's actual deployment shape: month loop -> HTTPS pages
    // -> normalize -> dedup -> checkpoint -> masters, here against an
    // in-process stub speaking the discover protocol (from/to/page params)
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def param(ex: HttpExchange, k: String): String =
      Option(ex.getRequestURI.getQuery).toSeq.flatMap(_.split("&"))
        .collectFirst { case q if q.startsWith(s"$k=") => q.drop(k.length + 1) }
        .getOrElse("")
    // month -> pages of movie ids; id 4 repeats across months (global dedup)
    val months = Map(
      "2023-01-01" -> Seq(Seq(1, 2), Seq(3, 4)),
      "2023-02-01" -> Seq(Seq(4, 5)))
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val pages = months(param(ex, "from"))
      val page = param(ex, "page").toInt
      val results = pages(page - 1).map(i =>
        s"""{"id": $i, "title": "Movie $i", "release_date": "${param(ex, "from")}",
           |"genre_ids": [28], "vote_average": 7.0, "vote_count": 10,
           |"popularity": $i.0, "original_language": "en", "overview": "o",
           |"poster_path": "/p$i.jpg"}""".stripMargin.replaceAll("\n", " "))
      val body =
        s"""{"page": $page, "total_pages": ${pages.size}, "results": [${results.mkString(",")}]}"""
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody; os.write(bytes); os.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/discover"
      val outDir = Files.createTempDirectory("bf-http").toString
      def fetch(ms: String, me: String): DataFrame =
        spark.read.format("graft.sources.PagedJsonSource")
          .option("dir", s"$base?from=$ms&to=$me")
          .option("bearerToken", "stub-token")
          .load()
      val r = Backfill.run(spark, outDir, s"$outDir/cp.json",
        "2023-01-01", "2023-02-28", "https://cdn/", "w500", Map(28 -> "Action"), fetch)
      assert(r.processedMonths.size == 2)
      assert(r.masterRows == 5) // ids 1-5; cross-month dup of 4 deduped
      val master = spark.read.parquet(
        s"$outDir/${MovieOps.masterPaths("2023-01-01", "2023-02-28")._2}")
      val kept = master.filter(col("tmdb_id") === 4).head()
      assert(kept.getAs[String]("release_date") == "2023-01-01") // earliest month won
      assert(kept.getAs[String]("genres") == "Action")
    } finally server.stop(0)
  }

  test("BackfillCli runs against an http pages-dir (live-API parity)") {
    // the reference's deployment exactly: config cascade -> discover
    // endpoint with primary_release_date.gte/lte params + bearer auth
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def param(ex: HttpExchange, k: String): String =
      Option(ex.getRequestURI.getQuery).toSeq.flatMap(_.split("&"))
        .collectFirst { case q if q.startsWith(s"$k=") => q.drop(k.length + 1) }
        .getOrElse("")
    val months = Map("2023-01-01" -> Seq(1, 2), "2023-02-01" -> Seq(2, 3))
    val badAuth = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val bytes =
        if (ex.getRequestHeaders.getFirst("Authorization") != "Bearer k-123") {
          badAuth.incrementAndGet(); Array.empty[Byte]
        } else {
          val ids = months(param(ex, "primary_release_date.gte"))
          val results = ids.map(i =>
            s"""{"id": $i, "title": "M$i", "release_date": "${param(ex, "primary_release_date.gte")}",
               |"genre_ids": [28], "vote_average": 7.0, "vote_count": 10, "popularity": 1.0,
               |"original_language": "en", "overview": "o", "poster_path": "/p$i.jpg"}"""
              .stripMargin.replaceAll("\n", " "))
          s"""{"page": 1, "total_pages": 1, "results": [${results.mkString(",")}]}"""
            .getBytes("UTF-8")
        }
      val code = if (bytes.isEmpty) 401 else 200
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
      if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
      else ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/discover"
      val outDir = Files.createTempDirectory("cli-http").toString
      val conf = Conf.Layered(
        cli = Conf.parseArgs(Seq(
          "--pages-dir", base, "--out-dir", outDir,
          "--from", "2023-01-01", "--to", "2023-02-28")),
        env = Map("GENRES" -> "28:Action", "BEARER_TOKEN" -> "k-123"),
        dotEnv = Map.empty)
      val r = BackfillCli.run(spark, conf)
      assert(r.processedMonths.size == 2)
      assert(r.masterRows == 3) // ids 1-3; cross-month dup of 2 deduped
      assert(badAuth.get() == 0, "bearer token not sent on some request")
    } finally server.stop(0)
  }

  test("crash mid-run, rerun converges with each month processed once") {
    val dir = Files.createTempDirectory("bf").toString
    val cp = s"$dir/cp.json"
    val fetched = scala.collection.mutable.ArrayBuffer[String]()
    var crashOnSecond = true
    def fetch(ms: String, me: String): DataFrame = {
      if (crashOnSecond && ms == "2023-02-01") throw new RuntimeException("boom")
      fetched += ms
      raw(Seq(10L, 20L))
    }
    intercept[RuntimeException] {
      Backfill.run(spark, dir, cp, "2023-01-01", "2023-03-31",
        "https://cdn/", "w500", Map.empty, fetch)
    }
    assert(fetched.toSeq == Seq("2023-01-01")) // month 1 done, crash on 2
    crashOnSecond = false
    val r = Backfill.run(spark, dir, cp, "2023-01-01", "2023-03-31",
      "https://cdn/", "w500", Map.empty, fetch)
    // resumed run re-does ONLY the unfinished months
    assert(r.processedMonths == Seq("2023-02-01_2023-02-28", "2023-03-01_2023-03-31"))
    assert(fetched.toSeq == Seq("2023-01-01", "2023-02-01", "2023-03-01"))
  }

  test("per-month progress callback fires; master rows counted") {
    val dir = Files.createTempDirectory("bf").toString
    val cp = s"$dir/cp.json"
    val seen = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    val result = Backfill.run(spark, dir, cp, "2023-01-01", "2023-02-28",
      "https://cdn/", "w500", Map.empty, (_, _) => raw(Seq(1L, 2L)),
      onProgress = (k, d, t) => seen += ((k, d, t)))
    assert(result.masterRows == 2)
    assert(seen.toSeq == Seq(
      ("2023-01-01_2023-01-31", 1, 2), ("2023-02-01_2023-02-28", 2, 2)))
  }

  test("cross-month duplicates collapse in the master") {
    val dir = Files.createTempDirectory("bf").toString
    val cp = s"$dir/cp.json"
    // id 5 appears in both months; master must keep exactly one
    def fetch(ms: String, me: String): DataFrame =
      if (ms == "2023-01-01") raw(Seq(1L, 5L)) else raw(Seq(5L, 9L))
    val r = Backfill.run(spark, dir, cp, "2023-01-01", "2023-02-28",
      "https://cdn/", "w500", Map.empty, fetch)
    assert(r.masterRows == 3)
    val (_, parquetName) = MovieOps.masterPaths("2023-01-01", "2023-02-28")
    val master = spark.read.parquet(s"$dir/$parquetName")
    assert(master.select("tmdb_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 9L))
    assert(master.columns.toSeq == MovieOps.Cols)
  }

  test("keep-first dedup keeps the first duplicate in page order (reference parity)") {
    val dir = Files.createTempDirectory("bf").toString
    val cp = s"$dir/cp.json"
    val schema = graft.sources.PagedTable.schemaFor(withOrdinals = true)
    // id 7 duplicated with DIFFERING payloads: page order says "First",
    // payload order says "AAA" — keep='first' must win here
    val rows = Seq(
      Row(7L, "First", "OT", "2023-01-15", Seq(28), 7.0, 100L, 50.0, "en", "o", "/a.jpg", 0, 1),
      Row(7L, "AAA", "OT", "2023-01-15", Seq(28), 7.0, 100L, 50.0, "en", "o", "/a.jpg", 1, 0))
    val rawDf = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val r = Backfill.run(spark, dir, cp, "2023-01-01", "2023-01-31",
      "https://cdn/", "w500", Map.empty, (_, _) => rawDf, keepFirst = true)
    assert(r.masterRows == 1)
    val (_, parquetName) = MovieOps.masterPaths("2023-01-01", "2023-01-31")
    val master = spark.read.parquet(s"$dir/$parquetName")
    assert(master.head().getAs[String]("title") == "First")
    assert(master.columns.toSeq == MovieOps.Cols) // ordinals never leak out
    // without ingest ordinals keep-first is unsatisfiable: fail loudly
    intercept[IllegalArgumentException] {
      Backfill.run(spark, Files.createTempDirectory("bf").toString,
        s"$dir/cp2.json", "2023-01-01", "2023-01-31",
        "https://cdn/", "w500", Map.empty, (_, _) => raw(Seq(1L)), keepFirst = true)
    }
  }

  test("BackfillCli --keep-first flows ordinals from the paged source") {
    val pagesDir = Files.createTempDirectory("kf-pages")
    val d = pagesDir.resolve("2023-01-01_2023-01-31")
    Files.createDirectories(d)
    def line(id: Int, title: String) =
      s"""{"id": $id, "title": "$title", "release_date": "2023-01-01", "genre_ids": [28],
         |"vote_average": 7.0, "vote_count": 10, "popularity": 1.0,
         |"original_language": "en", "overview": "o", "poster_path": "/p.jpg"}"""
        .stripMargin.replaceAll("\n", " ")
    // id 9 on both pages; page order keeps "Early", payload order would keep "A-Late"
    Files.write(d.resolve("page-00001.json"), line(9, "Early").getBytes("UTF-8"))
    Files.write(d.resolve("page-00002.json"), line(9, "A-Late").getBytes("UTF-8"))
    val outDir = Files.createTempDirectory("kf-out").toString
    val conf = Conf.Layered(
      cli = Conf.parseArgs(Seq(
        "--pages-dir", pagesDir.toString, "--out-dir", outDir,
        "--from", "2023-01-01", "--to", "2023-01-31", "--keep-first", "true")),
      env = Map.empty, dotEnv = Map.empty)
    val r = BackfillCli.run(spark, conf)
    assert(r.masterRows == 1)
    val master = spark.read.parquet(s"$outDir/tmdb_movies_2023.parquet")
    assert(master.head().getAs[String]("title") == "Early")
  }

  test("empty month writes empty part with full schema") {
    val dir = Files.createTempDirectory("bf").toString
    val cp = s"$dir/cp.json"
    def fetch(ms: String, me: String): DataFrame =
      if (ms == "2023-01-01") raw(Seq(1L))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], MovieOps.RawSchema)
    val r = Backfill.run(spark, dir, cp, "2023-01-01", "2023-02-28",
      "https://cdn/", "w500", Map.empty, fetch)
    assert(r.masterRows == 1)
    val part = spark.read.parquet(s"$dir/part_month=2023-02-01")
    assert(part.count() == 0)
    assert(part.columns.toSeq == MovieOps.Cols)
  }

  test("each processed month's raw rows are read exactly once") {
    val dir = Files.createTempDirectory("bf-once").toString
    val reads = spark.sparkContext.longAccumulator("raw rows read")
    val r = runMonths(dir, (ms, _) => raw(monthIds(ms), s" @ $ms", tap = row => {
      reads.add(1L)
      row
    }))
    assert(r.processedMonths == Keys)
    assert(reads.value == Keys.size * 3L) // no pre-pass, no re-read at consolidation
    assert(masterRows(dir) == uninterrupted)
  }

  test("a fetch that throws stops submission; the rerun picks up exactly there") {
    val dir = Files.createTempDirectory("bf-fetch-fail").toString
    val fetched = scala.collection.mutable.ArrayBuffer[String]()
    var failOn = Option("2023-03-01")
    def fetch(ms: String, me: String): DataFrame = {
      fetched += ms
      if (failOn.contains(ms)) throw new IllegalStateException(s"fetch failed: $ms")
      raw(monthIds(ms), s" @ $ms")
    }
    val e = intercept[IllegalStateException](runMonths(dir, fetch))
    assert(e.getMessage == "fetch failed: 2023-03-01")
    assert(fetched.toSeq == Seq("2023-01-01", "2023-02-01", "2023-03-01")) // never 4 or 5
    assert(MovieOps.loadCheckpoint(s"$dir/cp.json") == Keys.take(2))
    failOn = None
    fetched.clear()
    val r = runMonths(dir, fetch)
    assert(r.processedMonths == Keys.drop(2))
    assert(fetched.toSeq == Seq("2023-03-01", "2023-04-01", "2023-05-01"))
    assert(masterRows(dir) == uninterrupted)
  }

  test("a write that fails is rethrown and never marked; the rerun converges") {
    val dir = Files.createTempDirectory("bf-write-fail").toString
    var poisoned = true
    def fetch(ms: String, me: String): DataFrame =
      if (poisoned && ms == "2023-02-01")
        raw(monthIds(ms), tap = _ => throw new IllegalStateException("unreadable page"))
      else raw(monthIds(ms), s" @ $ms")
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val e = intercept[Exception](runMonths(dir, fetch, (k, _, _) => seen += k))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("unreadable page")), e)
    val marked = MovieOps.loadCheckpoint(s"$dir/cp.json")
    assert(!marked.contains(Keys(1)))
    assert(marked.contains(Keys(0)))
    assert(seen.toSeq == Keys.take(1)) // progress never reports past the failed month
    poisoned = false
    val r = runMonths(dir, fetch)
    assert(r.processedMonths.contains(Keys(1)))
    assert((marked ++ r.processedMonths).sorted == Keys)
    assert(masterRows(dir) == uninterrupted)
  }

  test("progress reports checkpointed and processed months in month order") {
    val dir = Files.createTempDirectory("bf-progress").toString
    val keys = Keys.take(4)
    MovieOps.saveCheckpoint(s"$dir/cp.json", Seq(keys(1)))
    val seen = scala.collection.mutable.ArrayBuffer[(String, Int, Int)]()
    val r = Backfill.run(spark, dir, s"$dir/cp.json", From, "2023-04-30",
      "https://cdn/", "w500", Map.empty, (ms, _) => raw(monthIds(ms)),
      onProgress = (k, d, t) => seen += ((k, d, t)))
    assert(r.processedMonths == Seq(keys(0), keys(2), keys(3)))
    // what the sequential loop reports: the pre-seeded mark counts from the start
    assert(seen.toSeq == Seq((keys(0), 2, 4), (keys(1), 2, 4), (keys(2), 3, 4), (keys(3), 4, 4)))
  }
}
