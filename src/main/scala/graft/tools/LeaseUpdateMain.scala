package graft.tools

/** Second-JVM worker for the cross-process maintenance-lease test
  * (CrossProcessLeaseSpec): runs `n` vocabulary updates of one doc each
  * against an existing artifact at `path`, then exits 0. Each update is
  * a manifest read-modify-write cycle under
  * [[graft.ops.ArtifactLock.withWriteLock]] — with the test JVM
  * updating the SAME path concurrently, only the lease file serializes
  * the two processes; a lost cycle shows up as a missing doc in the
  * final manifest's n_docs.
  *
  * Usage: LeaseUpdateMain <artifactPath> <idBase> <n>
  */
object LeaseUpdateMain {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val idBase = args(1).toLong
    val n = args(2).toInt
    val spark = graft.engine.SessionTuning.local(2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    try {
      (0 until n).foreach { i =>
        val batch = Seq((idBase + i, s"proc$idBase token${idBase + i} lease"))
          .toDF("doc_id", "text")
        graft.ops.VocabIndex.update(spark, path, batch, "text", maxSlabs = 4)
      }
      println(s"LEASE_UPDATES_DONE $n")
    } finally spark.stop()
  }
}
