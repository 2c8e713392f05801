package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ops.MovieOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector for the reference's paged discover feed
  * (movie.py:145-182, S1): one `InputPartition` per page, so pages read
  * in parallel across executors instead of the reference's serial loop.
  * The reliability operators ride along as source options:
  *
  *  - `pageDelayMs`  — polite per-page rate limit (C2, movie.py:147,180)
  *  - `maxRetries` / `backoffBaseMs` — exponential-backoff retry around
  *    each page read (C1, movie.py:98-129)
  *  - `maxRetryAfterMs` — cap on a server's Retry-After hint
  *  - `flakyEveryN`  — deterministic fault injection for tests: every
  *    Nth page read fails once before succeeding
  *
  * The transport behind the page reads is pluggable ([[PageTransport]]),
  * chosen by the `dir` option's scheme:
  *
  *  - `http://` / `https://` — [[HttpPageTransport]]: real HTTP GETs via
  *    `java.net.http`, speaking the reference's protocol (movie.py:98-129):
  *    bearer-token header (`bearerToken` option, movie.py:75-83), 25 s
  *    request timeout (`requestTimeoutMs`, movie.py:104), page discovery
  *    from the first response's `total_pages` (movie.py:158-161), 429 →
  *    Retry-After-hinted retry, other 4xx → fail fast, 5xx/timeouts →
  *    backoff retry (movie.py:111-128).
  *  - anything else — [[FilePageTransport]]: `page-*.json` JSON-lines
  *    files through the Hadoop FileSystem (`file:`, `hdfs:`, `s3a:`…),
  *    carrying the SESSION's Hadoop configuration (`spark.hadoop.*`
  *    overrides) to both the driver listing and the executor reads, with
  *    a `.retry-after` sidecar as the 429 analog for tests.
  *
  * Usage: `spark.read.format("graft.sources.PagedJsonSource")
  *   .option("dir", …).load()` — schema is the fixed raw discover schema.
  */
class PagedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedTable.schemaFor(options.getBoolean("withOrdinals", false))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PagedTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

final class PagedTable(rawOptions: Map[String, String]) extends Table with SupportsRead {
  // options reach inferSchema through a CaseInsensitiveStringMap but this
  // constructor through the raw properties map — normalize once so
  // `.option("withordinals", …)` behaves identically on both paths
  private val options: Map[String, String] =
    rawOptions.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private def opt(name: String): Option[String] =
    options.get(name.toLowerCase(java.util.Locale.ROOT))

  private val withOrdinals = opt("withOrdinals").exists(_.toBoolean)
  private def dir: String = opt("dir").getOrElse(
    throw new IllegalArgumentException("option 'dir' is required"))

  /** The transport serving this table's pages — driver side; serialized
    * into the reader factory for executor-side fetches. One instance per
    * table (lazy val): building it clones the session Hadoop conf, and a
    * scan asks for it from both the partition listing and the reader
    * factory — two `def` evaluations could even snapshot different conf
    * state mid-planning.
    */
  private[graft] lazy val transport: PageTransport =
    if (dir.startsWith("http://") || dir.startsWith("https://"))
      new HttpPageTransport(
        bearerToken = opt("bearerToken"),
        requestTimeoutMs = opt("requestTimeoutMs").getOrElse("25000").toLong,
        listRetries = opt("maxRetries").getOrElse("3").toInt,
        listBackoffBaseMs = opt("backoffBaseMs").getOrElse("1").toLong,
        maxRetryAfterMs = opt("maxRetryAfterMs").getOrElse("60000").toLong)
    else
      // the session's Hadoop conf (spark.hadoop.* overrides, fs.defaultFS)
      // — NOT a bare `new Configuration()`, which would resolve scheme-less
      // paths differently from every other read in the session
      new FilePageTransport(new SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))

  /** The page window, listed ONCE per table: every action on a loaded
    * DataFrame plans a fresh Scan, and without this a rate-limited API
    * would see one discovery GET per `count()`/`collect()`.
    *
    * The memoized window lives as long as the table, and page 1's
    * prefetched body rides into partition 0 on EVERY action — so an
    * oversized first page would both pin driver memory for the table's
    * lifetime and re-serialize into a task per action. Bodies beyond
    * `maxPrefetchBytes` (default 8 MiB) are therefore dropped from the
    * memo at listing time; partition 0 then fetches page 1 like any
    * other page (one extra GET total — the fallback, not the norm).
    */
  private[graft] lazy val window: PageWindow = {
    val w = transport.listWindow(dir)
    val cap = opt("maxPrefetchBytes").getOrElse((8L << 20).toString).toLong
    w.firstLines match {
      case Some(lines) if lines.iterator.map(l => 2L * l.length).sum > cap =>
        PagedTable.logPrefetchDrop(dir, cap)
        w.copy(firstLines = None)
      case _ => w
    }
  }

  override def name(): String = s"paged_json(${opt("dir").getOrElse("?")})"
  override def schema(): StructType = PagedTable.schemaFor(withOrdinals)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = PagedTable.schemaFor(withOrdinals)
      override def toBatch: Batch = this
      // memoized: Spark calls planInputPartitions several times while
      // planning one query (supportsColumnar, exec) — and `window` is
      // memoized a level up on the TABLE, so repeated actions on the same
      // DataFrame reuse one listing (one discovery GET per load, like
      // FileScan's partition cache; staleness semantics match a file scan)
      private lazy val partitions: Array[InputPartition] = {
        val w = window
        // the reference's 500-page window cap LOGS its data loss
        // (movie.py:161-171) — a silently truncated window is
        // indistinguishable from a complete one downstream
        val maxPages = opt("maxPages").getOrElse(Int.MaxValue.toString).toInt
        val kept =
          if (w.refs.length > maxPages) {
            PagedTable.logOverflow(dir, w.refs.length, maxPages)
            w.refs.take(maxPages)
          } else w.refs
        kept.zipWithIndex.map { case (ref, i) =>
          // the discovery GET already paid for page 1's body — ship it
          // with partition 0 instead of fetching the same page twice
          // (the reference reuses the first response too, movie.py:173)
          PagePartition(ref, i, if (i == 0) w.firstLines else None): InputPartition
        }.toArray
      }
      override def planInputPartitions(): Array[InputPartition] = partitions
      override def createReaderFactory(): PartitionReaderFactory = {
        val delay = opt("pageDelayMs").getOrElse("0").toLong
        val retries = opt("maxRetries").getOrElse("3").toInt
        val backoff = opt("backoffBaseMs").getOrElse("1").toLong
        val flaky = opt("flakyEveryN").getOrElse("0").toInt
        val maxHint = opt("maxRetryAfterMs").getOrElse("60000").toLong
        PagedReaderFactory(transport, delay, retries, backoff, flaky, maxHint, withOrdinals)
      }
    }
}

object PagedTable {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[PagedTable])

  /** With `withOrdinals=true` the schema gains `_page`/`_row` — the
    * fetch/page ordinals a keep-first dedup needs to reproduce the
    * reference's `drop_duplicates(keep='first')` (movie.py:276) when
    * duplicate payloads differ across pages.
    */
  def schemaFor(withOrdinals: Boolean): StructType =
    if (!withOrdinals) MovieOps.RawSchema
    else MovieOps.RawSchema
      .add("_page", org.apache.spark.sql.types.IntegerType)
      .add("_row", org.apache.spark.sql.types.IntegerType)

  /** Overflow events, keyed by dir — test-visible mirror of the log line
    * (same spirit as [[PagedReader.failedOnce]]). */
  val overflows: java.util.concurrent.ConcurrentHashMap[String, Int] =
    new java.util.concurrent.ConcurrentHashMap()

  private[sources] def logOverflow(dir: String, found: Int, cap: Int): Unit = {
    overflows.put(dir, found - cap)
    log.warn(s"window '$dir' hit the $cap-page cap: ${found - cap} of $found " +
      s"pages DROPPED — results beyond the cap are lost (reference movie.py:161-171)")
  }

  /** Dropped-prefetch events, keyed by dir — test-visible mirror of the
    * log line, same spirit as [[overflows]]. */
  val prefetchDrops: java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean] =
    new java.util.concurrent.ConcurrentHashMap()

  private[sources] def logPrefetchDrop(dir: String, cap: Long): Unit = {
    prefetchDrops.put(dir, true)
    log.info(s"window '$dir': page 1's body exceeds maxPrefetchBytes=$cap — " +
      s"not memoized; partition 0 will fetch page 1 normally")
  }
}

/** One page of the window. `prefetch` carries a body some driver-side
  * request already paid for (the HTTP discovery GET reads page 1 whole) —
  * the reader serves it directly instead of re-fetching the page.
  */
final case class PagePartition(path: String, index: Int,
    prefetch: Option[Seq[String]] = None) extends InputPartition

/** A listed window: ordered page refs, plus page 1's already-fetched
  * lines when the listing itself had to read page 1 to size the window.
  */
final case class PageWindow(refs: Seq[String],
    firstLines: Option[Seq[String]] = None)

/** The transport's 429 analog (movie.py:113-121): the page is
  * rate-limited and the server may have said how long to wait.
  */
final class RateLimitedException(msg: String, val retryAfterMs: Option[Long])
  extends java.io.IOException(msg)

/** The transport's 404 analog: the page cannot exist — retrying can
  * never succeed, so the retry loop fails fast (movie.py:124-127's
  * fatal-vs-retryable split).
  */
final class PageGoneException(msg: String, cause: Throwable = null)
  extends java.io.IOException(msg, cause)

/** How pages are listed (driver) and fetched (executors). Implementations
  * classify fetch failures for [[PagedReader]]'s retry loop:
  * [[PageGoneException]] = fatal, [[RateLimitedException]] = retry with
  * the server's wait hint, any other exception = retry with backoff.
  */
object PageTransport {
  /** `Thread.sleep` that RESTORES the interrupt flag before rethrowing.
    * The retry loops spend most of their wall-clock inside backoff
    * sleeps, so that is where a query cancellation usually lands; plain
    * sleep throws with the flag CLEARED, and cancellation machinery that
    * re-checks `isInterrupted` would miss it.
    */
  private[sources] def sleep(ms: Long): Unit =
    try Thread.sleep(ms)
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt(); throw e
    }
}

trait PageTransport extends Serializable {
  /** Ordered page refs for the window rooted at `dir` (driver-side). */
  def listPages(dir: String): Seq[String]
  /** The window with any listing byproduct (an HTTP discovery GET reads
    * page 1's body — returning it here saves a duplicate fetch). */
  def listWindow(dir: String): PageWindow = PageWindow(listPages(dir))
  /** One page's raw JSON-lines (executor-side). */
  def fetchLines(ref: String): Seq[String]
}

/** Pages as `page-*.json` JSON-lines files through the Hadoop FileSystem —
  * any scheme the session can reach (`file:`, `hdfs:`, `s3a:`…). The
  * session's Hadoop configuration rides along so executor-side reads
  * resolve paths exactly like the driver listing did. A `<page>.retry-after`
  * sidecar marks the page rate-limited ONCE (content = wait hint in ms):
  * the read consumes the marker — like a 429 that clears — and surfaces
  * the hint to the backoff loop.
  */
final class FilePageTransport(val conf: SerializableConfiguration) extends PageTransport {
  override def listPages(dir: String): Seq[String] =
    graft.ops.Fs.list(dir, conf.value)
      .filter(s => s.isFile && s.getPath.getName.startsWith("page-") &&
        s.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
      .map(_.getPath.toString)

  override def fetchLines(ref: String): Seq[String] = {
    val limiter = new org.apache.hadoop.fs.Path(ref + ".retry-after")
    val lfs = limiter.getFileSystem(conf.value)
    if (lfs.exists(limiter)) {
      val hint = graft.ops.Fs.readBytes(ref + ".retry-after", conf.value)
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8).trim)
        .flatMap(_.toLongOption)
      lfs.delete(limiter, false)
      throw new RateLimitedException(s"page $ref rate-limited", hint)
    }
    val p = new org.apache.hadoop.fs.Path(ref)
    val in =
      try p.getFileSystem(conf.value).open(p)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new PageGoneException(s"page $ref does not exist", e)
      }
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).toList
    finally reader.close()
  }
}

/** Pages over live HTTP (`java.net.http`), speaking the reference's
  * protocol (movie.py:98-129): `GET <base>?page=N` with an optional
  * `Authorization: Bearer <token>` header (movie.py:75-83) and a bounded
  * request timeout (movie.py:104's `timeout=25`). The window size comes
  * from the first page's `total_pages` field (movie.py:158-161). Status
  * taxonomy (movie.py:111-128): 200 parses, 429 raises the Retry-After
  * hint (header is in SECONDS per the HTTP spec, surfaced in ms), any
  * other 4xx is fatal, 5xx and timeouts are retryable.
  *
  * A 200 body may be the discover shape (`{"results": [...]}`), a bare
  * JSON array, or JSON-lines text — each normalizes to one JSON document
  * per line, same as the file transport.
  */
final class HttpPageTransport(
    val bearerToken: Option[String],
    val requestTimeoutMs: Long,
    val listRetries: Int = 3,
    val listBackoffBaseMs: Long = 1000L,
    val maxRetryAfterMs: Long = 60000L) extends PageTransport {

  // HttpClient is not serializable — rebuilt lazily on each executor.
  // NORMAL redirect policy follows 3xx like the reference's requests
  // session does (but never downgrades https -> http)
  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(requestTimeoutMs))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()
  @transient private lazy val mapper = new ObjectMapper()

  private[sources] def pageUrl(base: String, page: Int): String =
    s"$base${if (base.contains("?")) "&" else "?"}page=$page"

  private def get(url: String): java.net.http.HttpResponse[String] = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
      .header("accept", "application/json")
    bearerToken.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
  }

  /** Raise the transport's failure taxonomy for a non-200 response. */
  private def classify(url: String, r: java.net.http.HttpResponse[String]): Unit =
    r.statusCode() match {
      case 200 => ()
      case 429 =>
        // movie.py:113-121: int(Retry-After seconds), unparseable → backoff
        val hint = Option(r.headers().firstValue("Retry-After").orElse(null))
          .flatMap(_.trim.toLongOption).map(_ * 1000L)
        throw new RateLimitedException(s"$url rate-limited (429)", hint)
      case c if c >= 400 && c < 500 =>
        throw new PageGoneException(s"$url failed with client error $c (fatal)")
      case c =>
        throw new java.io.IOException(s"$url failed with server error $c")
    }

  private def parseLines(body: String): Seq[String] = {
    val trimmed = body.trim
    // JSON-lines first: multiple lines, each a complete object — checked
    // BEFORE the single-document parse because a JSON-lines body also
    // starts with '{' and Jackson's readTree would silently keep only
    // the first document (trailing tokens don't fail by default)
    val lines = trimmed.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    if (lines.length > 1 && lines.forall(l => l.startsWith("{") && l.endsWith("}"))) {
      return lines
    }
    if (!(trimmed.startsWith("{") || trimmed.startsWith("["))) return lines
    val node = mapper.readTree(trimmed)
    if (node.isObject && node.has("results"))
      node.get("results").elements().asScala.map(_.toString).toList
    else if (node.isArray) node.elements().asScala.map(_.toString).toList
    else Seq(node.toString)
  }

  /** The reference routes EVERY request — the first page included —
    * through its retry wrapper (movie.py:98-129, called from the loop at
    * :152-157), so the driver-side window-discovery GET gets the same
    * taxonomy as executor fetches: 429 waits out the capped hint, 5xx and
    * timeouts back off, 4xx fails immediately. The first response's body
    * rides back in the window (movie.py:173 reuses it the same way), so
    * page 1 is fetched exactly once per window.
    */
  override def listWindow(dir: String): PageWindow = {
    val url = pageUrl(dir, 1)
    var attempt = 0
    var first: java.net.http.HttpResponse[String] = null
    while (first == null) {
      try {
        val r = get(url)
        classify(url, r)
        first = r
      } catch {
        case e: PageGoneException => throw e
        case e: InterruptedException =>
          // a cancelled query must not sleep out the backoff schedule
          Thread.currentThread().interrupt(); throw e
        case e: RateLimitedException if attempt < listRetries =>
          PageTransport.sleep(e.retryAfterMs.map(math.min(_, maxRetryAfterMs))
            .getOrElse(listBackoffBaseMs * (1L << attempt)))
          attempt += 1
        case _: Exception if attempt < listRetries =>
          PageTransport.sleep(listBackoffBaseMs * (1L << attempt))
          attempt += 1
      }
    }
    val node = mapper.readTree(first.body())
    val total =
      if (node.isObject && node.hasNonNull("total_pages")) node.get("total_pages").asInt(1)
      else 1
    PageWindow((1 to math.max(1, total)).map(pageUrl(dir, _)),
      firstLines = Some(parseLines(first.body())))
  }

  override def listPages(dir: String): Seq[String] = listWindow(dir).refs

  override def fetchLines(ref: String): Seq[String] = {
    val r = get(ref)
    classify(ref, r)
    parseLines(r.body())
  }
}

final case class PagedReaderFactory(
    transport: PageTransport,
    pageDelayMs: Long, maxRetries: Int, backoffBaseMs: Long, flakyEveryN: Int,
    maxRetryAfterMs: Long = 60000L, withOrdinals: Boolean = false)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[PagePartition]
    new PagedReader(part, transport, pageDelayMs, maxRetries, backoffBaseMs,
      flakyEveryN, maxRetryAfterMs, withOrdinals)
  }
}

object PagedReader {
  /** Fault-injection bookkeeping for `flakyEveryN` (local/test use). */
  val failedOnce: java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean] =
    new java.util.concurrent.ConcurrentHashMap()

  /** Waits actually taken for rate-limited pages (page ref → ms), the
    * test-visible mirror of the reference's "Rate limited. Waiting %.1fs"
    * log line — specs assert hint use and capping without timing sleeps.
    */
  val rateLimitWaits: java.util.concurrent.ConcurrentHashMap[String, Long] =
    new java.util.concurrent.ConcurrentHashMap()
}

final class PagedReader(part: PagePartition, transport: PageTransport,
    pageDelayMs: Long, maxRetries: Int, backoffBaseMs: Long, flakyEveryN: Int,
    maxRetryAfterMs: Long = 60000L, withOrdinals: Boolean = false)
  extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _

  /** Injected transient failure for tests, in front of whatever transport
    * is active — each flagged page fails exactly once. */
  private def fetchWithInjection(): Seq[String] = {
    if (flakyEveryN > 0 && part.index % flakyEveryN == 0 &&
        PagedReader.failedOnce.putIfAbsent(part.path, true) == null) {
      throw new java.io.IOException(s"injected transient failure on ${part.path}")
    }
    transport.fetchLines(part.path)
  }

  /** C1: retry with exponential backoff around the page fetch — but only
    * for RETRYABLE failures. The reference distinguishes the two classes
    * (movie.py:124-127): 429/5xx/network errors retry with backoff, any
    * other 4xx client error fails fast ([[PageGoneException]] — a 404 or
    * a vanished page file; retrying can never succeed, so it surfaces
    * immediately instead of burning the full backoff schedule).
    *
    * A rate-limited page may carry the server's wait hint
    * (`Retry-After`, movie.py:113-121): the hint replaces the
    * exponential wait for that attempt — capped at `maxRetryAfterMs`
    * so a hostile/buggy hint can't park the task for an hour — and an
    * unparseable/absent hint falls back to the backoff schedule,
    * exactly like the reference's int() try/except.
    */
  private def safeReadPage(): Seq[String] = {
    var attempt = 0
    while (true) {
      try return fetchWithInjection()
      catch {
        case e: PageGoneException =>
          throw new RuntimeException(
            s"page ${part.path} is gone (fatal, not retried — the 404 analog)", e)
        case e: InterruptedException =>
          // task kill/cancellation: surface immediately, never sleep on it
          Thread.currentThread().interrupt(); throw e
        case e: RateLimitedException if attempt < maxRetries =>
          val wait = e.retryAfterMs match {
            case Some(hint) => math.min(hint, maxRetryAfterMs)
            case None => backoffBaseMs * (1L << attempt)
          }
          PagedReader.rateLimitWaits.put(part.path, wait)
          PageTransport.sleep(wait)
          attempt += 1
        case _: Exception if attempt < maxRetries =>
          PageTransport.sleep(backoffBaseMs * (1L << attempt))
          attempt += 1
        case e: Exception =>
          throw new RuntimeException(s"page ${part.path} failed after $maxRetries retries", e)
      }
    }
    Nil // unreachable
  }

  private def toRow(node: JsonNode, rowIdx: Int): InternalRow = {
    def str(f: String): UTF8String =
      if (node.hasNonNull(f)) UTF8String.fromString(node.get(f).asText) else null
    def dbl(f: String): Any = if (node.hasNonNull(f)) node.get(f).asDouble else null
    def lng(f: String): Any = if (node.hasNonNull(f)) node.get(f).asLong else null
    val genreIds: ArrayData =
      if (node.hasNonNull("genre_ids"))
        ArrayData.toArrayData(node.get("genre_ids").elements().asScala.map(_.asInt).toArray)
      else null
    val base = Seq[Any](
      lng("id"), str("title"), str("original_title"), str("release_date"),
      genreIds, dbl("vote_average"), lng("vote_count"), dbl("popularity"),
      str("original_language"), str("overview"), str("poster_path"))
    InternalRow.fromSeq(
      if (withOrdinals) base :+ part.index :+ rowIdx else base)
  }

  override def next(): Boolean = {
    if (rows == null) {
      // a prefetched body came from a request the driver already made —
      // no new fetch, so no politeness delay and no retry loop
      val lines = part.prefetch.getOrElse {
        if (pageDelayMs > 0) PageTransport.sleep(pageDelayMs) // C2: rate limit
        safeReadPage()
      }
      rows = lines.iterator.zipWithIndex
        .map { case (l, i) => toRow(mapper.readTree(l), i) }
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
