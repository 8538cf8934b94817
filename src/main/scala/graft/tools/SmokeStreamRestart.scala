package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** End-to-end restart smoke for [[EventStreams.retentionStream]] at a
  * state size where the durable-resume machinery actually matters: a
  * generated corpus streams in as time-ordered parquet files
  * (maxFilesPerTrigger=1 → one epoch per file), the query is STOPPED
  * mid-corpus, a brand-new writer resumes from the same checkpoint +
  * [[graft.streaming.StreamState]] dir, and the final triangle must
  * equal the batch operator over the full corpus exactly.
  *
  * The corpus is monotone in event time (ts strictly increasing with
  * id, files cut on id ranges), so nothing is watermark-late and the
  * stream≡batch equality is exact rather than
  * prefix-modulo-late-drops. A far-future pusher event (sentinel user,
  * fed after the restart) finalizes every real period; its own pair
  * never finalizes (nothing follows it), so the batch twin runs over
  * the real events only.
  *
  * Usage: runMain graft.tools.SmokeStreamRestart
  *        [nEvents=50000000] [nUsers=2000000] [chunks=16]
  *        [restartAfter=6] [periodSeconds=86400] [maxOffset=30]
  */
object SmokeStreamRestart {
  def main(args: Array[String]): Unit = {
    val nEvents = args.lift(0).map(_.toLong).getOrElse(50000000L)
    val nUsers = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val chunks = args.lift(2).map(_.toInt).getOrElse(16)
    val restartAfter = args.lift(3).map(_.toInt).getOrElse(6)
    val periodSeconds = args.lift(4).map(_.toLong).getOrElse(86400L)
    val maxOffset = args.lift(5).map(_.toInt).getOrElse(30)
    require(restartAfter > 0 && restartAfter < chunks)
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("smoke_restart")
    val streamDir = base.resolve("in"); val cp = base.resolve("cp")
    val stateDir = base.resolve("state")
    java.nio.file.Files.createDirectories(streamDir)

    // ts strictly monotone in id; every user recurs across periods
    val spanSecs = periodSeconds * (maxOffset + 1)
    val baseEpoch = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond
    def corpus = spark.range(nEvents).select(
      pmod(hash(col("id")), lit(nUsers)).cast("long").as("user_id"),
      timestamp_seconds(lit(baseEpoch) +
        (col("id") * lit(spanSecs) / lit(nEvents)).cast("long")).as("ts"),
      col("id"))

    // one single-file parquet per chunk, written in id (= time) order so
    // the file source's modification-time ordering replays them in order
    val perChunk = nEvents / chunks
    def writeChunk(k: Int): Unit = {
      val stage = base.resolve(s"stage$k")
      corpus.filter(col("id") >= k * perChunk &&
          col("id") < (if (k == chunks - 1) nEvents else (k + 1L) * perChunk))
        .drop("id")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part,
        streamDir.resolve(f"chunk_$k%03d.parquet"))
      Thread.sleep(5) // distinct mtimes keep the source's replay order
    }

    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, ts TIMESTAMP")
    @volatile var lastCells: Seq[(Long, Long, Long)] = Nil
    @volatile var epochsSeen = 0
    val sink = (df: DataFrame, epoch: Long) => {
      lastCells = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      epochsSeen += 1
      println(f"[smoke] epoch $epoch%3d folded -> ${lastCells.size} cells")
    }
    def writer() = EventStreams.retentionStream(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(streamDir.toString),
        periodSeconds, maxOffset, watermark = "1 second",
        stateDir = Some(stateDir.toString))(sink)
      .option("checkpointLocation", cp.toString)

    println(s"[smoke] $nEvents events / $nUsers users / $chunks chunks, " +
      s"restart after $restartAfter; period=$periodSeconds max_offset=$maxOffset")
    (0 until restartAfter).foreach(writeChunk)
    var t0 = System.nanoTime()
    val q1 = writer().start()
    q1.processAllAvailable(); q1.stop()
    println(f"[smoke] run 1: $epochsSeen epochs, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s — STOPPING mid-corpus")

    (restartAfter until chunks).foreach(writeChunk)
    // the pusher: one sentinel event far enough out to finalize all
    // real periods through the 1 s watermark
    spark.range(1).select(lit(-1L).as("user_id"),
        timestamp_seconds(lit(baseEpoch + spanSecs +
          2L * periodSeconds)).as("ts"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(base.resolve("stageP").toString)
    val pPart = java.nio.file.Files.list(base.resolve("stageP")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(pPart, streamDir.resolve("chunk_zzz_pusher.parquet"))

    t0 = System.nanoTime()
    val q2 = writer().start() // fresh accumulator vars: must reload state
    q2.processAllAvailable(); q2.stop()
    println(f"[smoke] run 2 (resumed): $epochsSeen epochs total, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    t0 = System.nanoTime()
    val batch = EventStreams.retention(
        corpus.drop("id").withColumn("event_type", lit("e"))
          .withColumn("value", lit(0.0)),
        periodSeconds, maxOffset)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    println(f"[smoke] batch twin: ${batch.size} cells, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    val streamed = lastCells.sorted
    val expected = batch.sorted
    val ok = streamed == expected
    println(s"[smoke] triangle identical across restart: $ok " +
      s"(streamed=${streamed.size} cells, batch=${expected.size})")
    if (!ok) {
      println(s"[smoke] missing=${(expected.toSet -- streamed.toSet).take(5)}")
      println(s"[smoke] extra=${(streamed.toSet -- expected.toSet).take(5)}")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }
}
