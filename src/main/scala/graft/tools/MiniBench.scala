package graft.tools

/** Bench-methodology timing of a SUBSET of SparkEntry queries — the
  * A/B instrument for JVM/session experiments (heap, GC, conf toggles)
  * where the full 149-query bench is too slow to iterate: the same
  * session as [[graft.Bench]] ([[graft.engine.SessionTuning.local]]),
  * same warm registry, two untimed passes, three timed passes,
  * per-query MIN. Prints one line per query plus the subset total. NOT
  * the headline number — that stays graft.Bench; this exists so
  * experiments are measured with the bench's exact methodology before
  * touching anything.
  *
  *   sbt "runMain graft.tools.MiniBench x2_dedup_minhash x72_index_update"
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qmap = graft.SparkEntry.queries.toMap
    val names = if (args.nonEmpty) args.toSeq else qmap.keys.toSeq.sorted
    val picked = names.map(n => n -> qmap.getOrElse(n, sys.error(s"unknown query $n")))
    graft.sources.TableRegistry.warmup(spark, sfDir, Seq("region", "nation",
      "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings"))
    def passOver(): Unit = picked.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    passOver(); passOver()
    System.gc()
    def timedPass(): Map[String, Double] = picked.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val passes = Seq(timedPass(), timedPass(), timedPass())
    val mins = picked.map { case (n, _) => n -> passes.map(_(n)).min }
    mins.foreach { case (n, s) => println(f"[mini] $n%-32s ${s}%.3f s") }
    println(f"[mini] TOTAL ${mins.map(_._2).sum}%.3f s over ${mins.size} queries")
    spark.stop()
  }
}
