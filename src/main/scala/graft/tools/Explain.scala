package graft.tools

/** Dev tool: dump `.explain("formatted")` for representative queries so
  * plan regressions (lost pushdown, surprise shuffles, broadcast misses)
  * are visible. `sbt "runMain graft.tools.Explain [sfDir]"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val interesting = Seq("q1_agg", "q2_filter_cmp", "q17_in_subquery",
      "x1_dedup_exact", "x6_ann_brute")
    val only = if (args.length > 1) args.drop(1).toSet else interesting.toSet
    graft.SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
