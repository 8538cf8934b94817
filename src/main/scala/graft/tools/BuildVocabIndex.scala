package graft.tools

/** Offline vocabulary builder — the entry that produces the persistable
  * top-k token artifact (graft.ops.VocabIndex) a server then serves via
  * `--index-root` + the `index` arg on the `oov_rate` xop, and that the
  * maintenance clauses (`vocab_update`, `vocab_remove_slab`) refresh in
  * place. Pass a capacity to build the mergeable Space-Saving form
  * (required for incremental updates and slab removals); omit it for
  * the exact one-shot build.
  *
  * Usage:
  *   sbt "runMain graft.tools.BuildVocabIndex <docs.parquet> <textCol> \
  *     <k> <outDir> [capacity]"
  */
object BuildVocabIndex {
  def main(args: Array[String]): Unit = {
    if (args.length < 4 || args.length > 5) {
      System.err.println(
        "usage: BuildVocabIndex <docs.parquet> <textCol> <k> <outDir> [capacity]")
      sys.exit(2)
    }
    val src = args(0); val textCol = args(1)
    val k = args(2).toInt; val out = args(3)
    val capacity = args.lift(4).map(_.toInt)
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(src)
    val art = graft.ops.VocabIndex.buildAndSave(docs, textCol, k, out, capacity)
    println(s"built top-${art.k} vocabulary (${art.nTokens.getOrElse(-1L)} tokens, " +
      s"capacity=${art.capacity.getOrElse(0)}, " +
      s"slabs=${art.slabs.map(_.length).getOrElse(0)}) -> $out")
    spark.stop()
  }
}
