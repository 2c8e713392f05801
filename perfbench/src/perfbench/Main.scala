package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Entry point of one benchmark JVM. `perfbench/run.py` starts one
  * process per mode and reads the JSON object the mode writes to `out=`.
  *
  * Arguments are `key=value` pairs:
  *  - `mode=probe`: start a session and report `setup_s` only;
  *  - `mode=session`: one session workload ([[SessionBench]]);
  *  - `mode=backfill-cold` / `mode=backfill-resume`: the two processes of
  *    the backfill workload ([[BackfillBench]]);
  *  - `mode=selftest`: emit a result under a comma-decimal locale.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"expected key=value, got '$kv'")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val result: Map[String, Any] = a("mode") match {
      case "probe" =>
        val (spark, setup) = Setup.session()
        spark.stop()
        Map("setup_s" -> setup)
      case "session" => SessionBench.run(a)
      case "backfill-cold" => BackfillBench.cold(a)
      case "backfill-resume" => BackfillBench.resume(a)
      case "selftest" =>
        // the emitter must not follow the default locale; run.py parses
        // this file with a plain JSON reader
        Locale.setDefault(Locale.GERMANY)
        Map("locale" -> Locale.getDefault.toString,
          "default_format" -> String.format("%.3f", Double.box(0.5)),
          "half" -> 0.5, "small" -> 1.25e-7, "large" -> 123456789.125)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
    Json.write(a("out"), result)
  }
}

/** Session start-up shared by every mode. */
object Setup {
  /** A session configured like every graft entry point, with its
    * warehouse inside this process's temp dir. Returns the session and
    * the seconds from JVM start until it was ready. */
  def session(): (SparkSession, Double) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val wh = Paths.get(System.getProperty("java.io.tmpdir"), "warehouse").toUri.toString
    val spark = Tables.configure(SparkSession.builder(), cpus)
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    val ready = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    (spark, (ready - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
  }
}

/** Helpers shared by the workloads. */
object Util {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** `df` with its columns renamed by position (results may repeat a
    * name) and an order-independent digest accumulated while it is
    * written: row count plus the sum of one 64-bit hash per row. Columns
    * are hashed as strings, with a marker for null so that a null never
    * hashes like an absent column. */
  def digested(df: DataFrame): (DataFrame, Observation) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(d.columns.toSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null"))): _*)
    val ob = Observation()
    (d.observe(ob, count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("hash")), ob)
  }

  /** The digest an executed [[digested]] frame accumulated. */
  def digestOf(ob: Observation): String = {
    val m = ob.get
    val hash = m("hash") match {
      case null => "0"
      case b: java.math.BigDecimal => b.toPlainString
      case other => other.toString
    }
    s"${m("rows")}:$hash"
  }

  /** Execute `df` into the noop sink and return its digest. */
  def digest(df: DataFrame): String = {
    val (d, ob) = digested(df)
    d.write.format("noop").mode("overwrite").save()
    digestOf(ob)
  }

  /** Files and bytes under `roots` (missing roots count as empty). */
  def du(roots: Seq[Path]): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    roots.filter(Files.exists(_)).foreach { r =>
      val st = Files.walk(r)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        files += 1; bytes += Files.size(f)
      } finally st.close()
    }
    (files, bytes)
  }

  /** Cached relations the block manager holds: (relations, partitions,
    * memory + disk bytes). */
  def storage(spark: SparkSession): (Int, Int, Long) = {
    val rs = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (rs.length, rs.map(_.numCachedPartitions).sum, rs.map(r => r.memSize + r.diskSize).sum)
  }

  val MB: Double = 1024.0 * 1024.0

  /** The exec-layer numbers of one phase from two listener snapshots. */
  def execMetrics(d: Totals, wallS: Double, stageIv: Seq[(Double, Double)],
      startMs: Double, endMs: Double): mutable.LinkedHashMap[String, Double] = {
    val busyMs = Trace.unionLength(stageIv.map { case (s, e) => (s max startMs, e min endMs) })
    mutable.LinkedHashMap(
      "exec.task_s" -> d.taskMs / 1000, "exec.cpu_s" -> d.cpuNs / 1e9,
      "exec.gc_s" -> d.gcMs / 1000, "exec.jobs" -> d.jobs.toDouble,
      "exec.stages" -> d.stages.toDouble, "exec.tasks" -> d.tasks.toDouble,
      "exec.tasks_failed" -> d.tasksFailed.toDouble,
      "exec.input_mb" -> d.inputBytes / MB, "exec.shuffle_read_mb" -> d.shuffleReadBytes / MB,
      "exec.shuffle_write_mb" -> d.shuffleWriteBytes / MB, "exec.spill_mb" -> d.spillBytes / MB,
      "exec.output_mb" -> d.outputBytes / MB,
      "exec.busy_cores" -> (if (wallS > 0) d.taskMs / 1000 / wallS else 0.0),
      "exec.driver_gap_s" -> (wallS - busyMs / 1000).max(0.0))
  }
}
