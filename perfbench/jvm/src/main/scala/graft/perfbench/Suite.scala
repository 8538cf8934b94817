package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The 149 SparkEntry queries in-process, timed with graft.Bench's warm-pass
  * method: the registry tables materialized, two untimed passes, then three
  * timed passes of `query(spark, dir).count()`, each query's time the median
  * of its three.
  *
  * Writes `suite.json` (set-up time, per-query medians, failures, the
  * action floor) and each query's result as parquet under `results/` for
  * the oracle check. With trace = 1, one more pass runs each query under
  * its own job group and records build time, Catalyst phase time of every
  * query execution it ran, action time, jobs, stages, tasks and shuffle
  * bytes (`suite_trace.json`).
  *
  * Usage: Suite <sf dir> <out dir> <trace 0|1> */
object Suite {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, trace) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)

    graft.sources.TableRegistry.warmup(spark, sfDir, Tables)
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
    queries.foreach { case (_, fn) => runOnce(fn) }
    queries.foreach { case (_, fn) => runOnce(fn) }
    System.gc()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val failed = mutable.LinkedHashSet.empty[String]
    (1 to 3).foreach { _ =>
      queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        if (!runOnce(fn)) failed += name
        times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      }
    }
    val medians = times.map { case (k, v) => k -> v.sorted.apply(1) }

    val floor = {
      spark.range(1).count()
      (1 to 7).map { _ =>
        val a = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - a) / 1e6
      }.sorted.apply(3)
    }
    val summary = Seq[(String, Any)](
      "setup_s" -> setupS, "failed" -> failed.mkString(","),
      "action_floor_ms" -> floor, "median_ms" -> medians)
    Files.write(out.resolve("suite.json"), Json.obj(summary).getBytes(UTF_8))

    if (trace == "1") tracedPass(spark, sfDir, queries, out)

    // results for the oracle check (untimed)
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve("results").resolve(name).toString)
      catch { case e: Throwable => System.err.println(s"suite: $name failed: ${e.getMessage}") }
    }
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    Files.write(out.resolve("oracle_sql.json"), Json.obj(oracle).getBytes(UTF_8))
    spark.stop()
  }

  /** One pass with each query under its own job group; Catalyst phases of
    * every execution it ran come from a query-execution listener. */
  private def tracedPass(spark: SparkSession, sfDir: String,
                         queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                         out: java.nio.file.Path): Unit = {
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    val phases = mutable.ArrayBuffer.empty[Double]
    spark.listenerManager.register(new QueryExecutionListener {
      private def add(qe: QueryExecution): Unit = phases.synchronized {
        phases += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
    })
    sc.setJobGroup("floor", "floor", interruptOnCancel = false)
    (1 to 4).foreach(_ => spark.range(1).count())
    sc.clearJobGroup()
    val rows = queries.map { case (name, fn) =>
      org.apache.spark.PerfbenchShims.drainListeners(sc)
      phases.synchronized(phases.clear())
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val (buildMs, execMs) =
        try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.count()
          ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
        } catch { case _: Throwable => ((System.nanoTime() - t0) / 1e6, 0.0) }
      sc.clearJobGroup()
      org.apache.spark.PerfbenchShims.drainListeners(sc)
      val c = listener.get(name)
      name -> Map[String, Any](
        "build_ms" -> buildMs, "exec_ms" -> execMs,
        "catalyst_ms" -> phases.synchronized(phases.sum),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "job_wall_ms" -> c.jobWallMs,
        "shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite))
    }
    val floorJobs = listener.get("floor").jobs / 4.0
    Files.write(out.resolve("suite_trace.json"), Json.obj(Seq(
      "floor_jobs" -> floorJobs, "queries" -> rows.toMap)).getBytes(UTF_8))
  }
}
