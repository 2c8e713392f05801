package graft.ops

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's library surface, re-expressed Spark-first.
  *
  * Semantics are cited against `/root/reference/src/movie.py`:
  *  - [[normalize]]   — `normalize_to_df`, movie.py:185-205
  *  - [[monthRanges]] — `month_ranges`,   movie.py:228-238
  *  - [[saveCheckpoint]]/[[loadCheckpoint]] — movie.py:208-222
  *  - [[masterPaths]] — `master_paths`,   movie.py:241-244
  *
  * The normalize is a pure projection over a DataFrame of raw discover
  * payloads (the paged-HTTP fetch is an I/O concern outside query
  * semantics — rows arrive as JSON files / fixtures). Everything scales
  * with row count: the genre map is a plan-time literal, no shuffle.
  */
object MovieOps {

  /** The 11-column output schema (`COLS`, movie.py:26-30). */
  val Cols: Seq[String] = Seq(
    "tmdb_id", "title", "original_title", "release_date", "genres",
    "vote_average", "vote_count", "popularity", "original_language",
    "overview", "poster_url")

  /** Raw TMDB discover payload schema (the fields normalize consumes;
    * extra payload fields are simply never selected = column pruning). */
  val RawSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("original_title", StringType),
    StructField("release_date", StringType),
    StructField("genre_ids", ArrayType(IntegerType)),
    StructField("vote_average", DoubleType),
    StructField("vote_count", LongType),
    StructField("popularity", DoubleType),
    StructField("original_language", StringType),
    StructField("overview", StringType),
    StructField("poster_path", StringType)))

  /** Typed output schema for empty-frame construction (P10). */
  val MovieSchema: StructType = StructType(Seq(
    StructField("tmdb_id", LongType),
    StructField("title", StringType),
    StructField("original_title", StringType),
    StructField("release_date", StringType),
    StructField("genres", StringType),
    StructField("vote_average", DoubleType),
    StructField("vote_count", LongType),
    StructField("popularity", DoubleType),
    StructField("original_language", StringType),
    StructField("overview", StringType),
    StructField("poster_url", StringType)))

  /** Raw discover payloads → the 11 `COLS` (movie.py:185-205):
    *  - genre ids map through the dimension, unknown id → `str(id)` (:189)
    *  - genres pipe-joined, empty array → "" (:197)
    *  - poster_url = base+size+path iff path present, else NULL (:190-191)
    *  - absent input columns conform to NULL (`reindex`, :205)
    *
    * `extra` names pass-through columns appended verbatim after the 11
    * (e.g. the source's `_page`/`_row` ordinals for keep-first dedup).
    */
  def normalize(raw: DataFrame, imageBase: String, posterSize: String,
      genres: Map[Int, String], extra: Seq[String] = Nil): DataFrame = {
    val genreMap = typedlit(genres)
    val in = raw.columns.toSet
    def c(name: String, t: DataType): org.apache.spark.sql.Column =
      if (in.contains(name)) col(name).cast(t) else lit(null).cast(t)
    raw.select(Seq(
      c("id", LongType).as("tmdb_id"),
      c("title", StringType).as("title"),
      c("original_title", StringType).as("original_title"),
      c("release_date", StringType).as("release_date"),
      array_join(
        transform(coalesce(c("genre_ids", ArrayType(IntegerType)), array().cast(ArrayType(IntegerType))),
          g => coalesce(element_at(genreMap, g), g.cast(StringType))),
        "|").as("genres"),
      c("vote_average", DoubleType).as("vote_average"),
      c("vote_count", LongType).as("vote_count"),
      c("popularity", DoubleType).as("popularity"),
      c("original_language", StringType).as("original_language"),
      c("overview", StringType).as("overview"),
      // the reference gates on Python falsiness (movie.py:190-191), so an
      // EMPTY path yields None too — not just a missing one
      when(c("poster_path", StringType).isNotNull && c("poster_path", StringType) =!= "",
        concat(lit(imageBase), lit(posterSize), c("poster_path", StringType)))
        .as("poster_url")) ++ extra.map(col): _*)
  }

  /** Calendar-month ranges covering [start, end] (movie.py:228-238):
    * the first range snaps DOWN to the 1st of start's month; the last
    * end is clipped to `end`. Pure driver-side work-list computation.
    */
  def monthRanges(startDate: String, endDate: String): Seq[(String, String)] = {
    val s = LocalDate.parse(startDate)
    val e = LocalDate.parse(endDate)
    Iterator.iterate(LocalDate.of(s.getYear, s.getMonth, 1))(_.plusMonths(1))
      .takeWhile(!_.isAfter(e))
      .map { cur =>
        val lastDay = cur.plusMonths(1).minusDays(1)
        (cur.toString, (if (lastDay.isAfter(e)) e else lastDay).toString)
      }
      .toSeq
  }

  /** Atomic checkpoint write (movie.py:208-212): tmp file + rename,
    * through the Hadoop `FileSystem` API so the checkpoint lives on any
    * scheme (`file:`, `hdfs:`, `s3a:`) the deployment writes data to.
    */
  def saveCheckpoint(path: String, doneMonths: Seq[String],
      conf: Configuration = Fs.defaultConf): Unit = {
    val json = doneMonths
      .map(m => "\"" + m.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("{\"done_months\": [", ", ", "]}")
    Fs.writeAtomic(path, json.getBytes(StandardCharsets.UTF_8), conf)
  }

  /** Checkpoint read (movie.py:214-222): missing or corrupt → empty. */
  def loadCheckpoint(path: String,
      conf: Configuration = Fs.defaultConf): Seq[String] = {
    try {
      Fs.readBytes(path, conf) match {
        case None => Seq.empty
        case Some(bytes) =>
          val text = new String(bytes, StandardCharsets.UTF_8)
          // minimal parser for {"done_months": ["...", ...]} — quoted
          // strings inside the array; reject anything else
          val arr = """(?s)\{\s*"done_months"\s*:\s*\[(.*?)]\s*}""".r
          arr.findFirstMatchIn(text) match {
            case Some(m) =>
              """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(m.group(1))
                .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
                .toSeq
            case None => Seq.empty // corrupt → start fresh (movie.py:218-221)
          }
      }
    } catch { case _: java.io.IOException => Seq.empty }
  }

  /** Master output names from the year span (movie.py:241-244). */
  def masterPaths(start: String, end: String): (String, String) = {
    val (yFrom, yTo) = (start.take(4), end.take(4))
    val suffix = if (yFrom == yTo) yFrom else s"$yFrom-$yTo"
    (s"tmdb_movies_$suffix.csv", s"tmdb_movies_$suffix.parquet")
  }
}
