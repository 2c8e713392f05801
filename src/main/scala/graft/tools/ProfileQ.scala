package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.scheduler._

/** Dev profiler (not part of the library surface): run named registry
  * queries with a stage-level listener and print, per stage, the wall
  * span, summed task time, executor CPU, shuffle bytes and task count —
  * the guide §1/§7 decomposition loop, plus the run's codegen compile
  * count and Janino time, runnable as
  * `runMain graft.tools.ProfileQ <sfDir> <q>...`. One warm-up run, one
  * profiled run per query (cache cleared before the warm-up, not after,
  * so memoized relations are HOT like the bench's timed region).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.Tables.configure(SparkSession.builder(),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")

    final case class St(name: String, submitted: Long, completed: Long,
      taskTimeMs: Long, cpuMs: Long, tasks: Int,
      shufReadMB: Double, shufWriteMB: Double, inputMB: Double)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        // name the stage by its first graft-source frame (the generic
        // AQE-materialization callsite tells us nothing)
        val site = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("tools.ProfileQ"))
          .map(_.trim.replaceAll("^at ", "").take(90))
          .getOrElse(i.name.takeWhile(_ != '\n').take(90))
        stages += St(site,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000,
          i.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6)
      }
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    args.drop(1).foreach { q =>
      s.sharedState.cacheManager.clearCache()
      noop(graft.Queries.byName(q).fn(s, d)) // warm-up (memo build)
      stages.clear()
      s.sparkContext.addSparkListener(listener)
      System.gc()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      noop(graft.Queries.byName(q).fn(s, d))
      val wall = (System.nanoTime() - t0) / 1e9
      // a warm run that still compiles is thrashing the codegen cache
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val compileS = (CodeGenerator.compileTime - ct0) / 1e9
      Thread.sleep(300) // let listener events drain
      s.sparkContext.removeSparkListener(listener)
      println(f"%n==== $q: wall $wall%.3f s, ${stages.size} stages, " +
        f"$compiles codegen compiles ($compileS%.3f s) ====")
      println(f"${"span_ms"}%8s ${"tasktime"}%9s ${"cpu_ms"}%8s ${"tasks"}%5s " +
        f"${"sRd_MB"}%8s ${"sWr_MB"}%8s ${"in_MB"}%8s  name")
      stages.sortBy(_.submitted).foreach { st =>
        println(f"${st.completed - st.submitted}%8d ${st.taskTimeMs}%9d " +
          f"${st.cpuMs}%8d ${st.tasks}%5d ${st.shufReadMB}%8.1f " +
          f"${st.shufWriteMB}%8.1f ${st.inputMB}%8.1f  ${st.name}")
      }
    }
    s.stop()
  }
}
