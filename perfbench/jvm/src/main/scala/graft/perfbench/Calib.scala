package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Host calibration stamps, graft.Bench's method: a fixed-work single-core
  * mix loop (`calib_cpu_ms`) and a fixed shuffleless Spark job over all
  * cores (`calib_spark_ms`, min of three after one untimed run).
  *
  * Protocol: starts its SparkSession, prints `ready` and blocks on stdin;
  * on the first input line it takes the pre-run stamps and prints them as
  * one JSON line; on the second it takes the post-run Spark stamp, prints
  * it as a second JSON line and exits. */
object Calib {
  def cpuMs(): Double = {
    def mixLoop(iters: Long): Long = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      var acc = 0L
      while (i < iters) {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      acc
    }
    var sink = mixLoop(48_000_000L)
    val t0 = System.nanoTime()
    sink ^= mixLoop(192_000_000L)
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42L) System.err.println(sink)
    ms
  }

  def sparkMs(spark: SparkSession): Double = {
    def job(): Unit = spark.range(0, 64L * 1024 * 1024, 1,
        spark.sparkContext.defaultParallelism)
      .selectExpr("sum(cast(hash(id) as bigint))").collect()
    job()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      job()
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    println("ready")
    Console.out.flush()
    scala.io.StdIn.readLine()
    val cpu = cpuMs()
    val pre = sparkMs(spark)
    println(Json.obj(Seq("calib_cpu_ms" -> cpu, "calib_spark_ms" -> pre)))
    Console.out.flush()
    scala.io.StdIn.readLine()
    val post = sparkMs(spark)
    println(Json.obj(Seq("calib_spark_ms_post" -> post)))
    Console.out.flush()
    spark.stop()
  }
}
