package graft.tools

/** Offline ANN/cluster index builder — the operator-facing entry that
  * produces the persistable quantizer artifact (graft.ops.IvfIndex) a
  * server then serves via `--index-root` + the `index` xop argument.
  * Build once per corpus (a Spark job), query many times across server
  * restarts without re-paying the centroid build.
  *
  * Usage:
  *   sbt "runMain graft.tools.BuildIvfIndex <corpus.parquet> <idCol> \
  *     <vecCol> <nCells> <kmeansIters> <outDir>"
  */
object BuildIvfIndex {
  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println(
        "usage: BuildIvfIndex <corpus.parquet> <idCol> <vecCol> <nCells> <kmeansIters> <outDir>")
      sys.exit(2)
    }
    val Array(src, idCol, vecCol, nCellsS, itersS, out) = args
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = spark.read.parquet(src)
    val centroids = graft.ops.IvfIndex.buildAndSave(
      corpus, idCol, vecCol, nCellsS.toInt, itersS.toInt, out)
    println(s"built ${centroids.length} centroids (dim ${centroids.head.length}) -> $out")
    spark.stop()
  }
}
