package graft.engine

import org.apache.spark.sql.SparkSession

/** The one session recipe every graft entry point builds from: the HTTP
  * server, Bench, Verify, the `graft.tools` mains and the test session.
  * Callers add only what their workload needs on top of [[local]]. These
  * confs belong to the LIBRARY, not to any one harness: an artifact
  * writer's commit cost or codegen-cache pressure is the same regardless
  * of who built the session, so setting them only where the timing
  * happens measures the harness instead of the library. */
object SessionTuning {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** A local session builder on `cpus` cores with one shuffle partition
    * per core, no UI, and [[tuned]]'s confs.
    *
    *  - Session time zone UTC: the NTZ time handling (timeEmbedding's
    *    NTZ->LTZ cast, x47's epoch-micro window bounds, sessionize's NTZ
    *    unification) assumes session-UTC; a DST host zone would make the
    *    NTZ embedding non-monotone and shift window bounds.
    *  - `nanosAsLong`: parquet INT64 nanosecond timestamps (the older
    *    events.parquet layout) read as LONG nanos, which the read
    *    boundaries (EventStreams.eventsFrame, Joins.timeEmbedding)
    *    normalize; without it Spark refuses the column.
    */
  def local(cpus: Int = SessionTuning.cpus): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))

  /** Performance confs applied by all graft mains.
    *
    *  - FileOutputCommitter v2: one rename per committed file instead of
    *    v1's write-to-task-attempt + serial job-commit rename pass. The
    *    artifact-maintenance operators (VocabIndex/DecontIndex/
    *    MinHashIndex/BloomIndex) commit dozens of tiny parquet writes
    *    per mutation, and the v1 job-commit pass is a serial driver-side
    *    loop that grows with file count. Safe for every graft writer:
    *    artifacts are single-writer under ArtifactLock's write lock, and
    *    every reader is gated on the atomically-published manifest (or
    *    _SUCCESS for the epoch sinks), never on directory listing of an
    *    in-flight write.
    *  - Codegen cache sized to the workload: the default 100-entry cache
    *    cannot hold one pass over the full query surface (~300+ codegen
    *    units), so steady-state traffic silently re-janino-compiles —
    *    seconds-level noise on whichever query races the compiler.
    */
  val perfConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** Fold [[perfConfs]] into a session builder. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    perfConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
