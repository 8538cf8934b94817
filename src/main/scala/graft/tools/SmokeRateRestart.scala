package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** End-to-end restart smoke for [[EventStreams.rateAnomalyStream]] —
  * [[SmokeStreamRestart]]'s shape applied to the rate twin, whose
  * durable state has a DIFFERENT profile from retention's (per-type
  * trailing window counts + the scored horizon, pruned to
  * types × (trailing+2) rows, versus retention's user-count-shaped
  * masks): a generated corpus streams in as time-ordered parquet files
  * (maxFilesPerTrigger=1 → one epoch per file), the writer is STOPPED
  * mid-corpus, a brand-new writer resumes from the same checkpoint +
  * [[graft.streaming.StreamState]] dir, and the UNION of every epoch's
  * emitted rows (the rate twin's epochs are disjoint horizon slices)
  * must equal the batch scorer over the full corpus exactly — counts,
  * trailing means, z-scores, anomaly flags, and the silent-type spine
  * rows included.
  *
  * The corpus is monotone in event time, so nothing is watermark-late
  * and the equality is exact. A far-future pusher (fed after the
  *  restart) finalizes every real window; its own window never
  * finalizes (nothing follows it), so the batch twin runs over the
  * real events only and no horizon filter is needed — asserted anyway.
  *
  * Usage: runMain graft.tools.SmokeRateRestart
  *        [nEvents=50000000] [nTypes=8] [chunks=16] [restartAfter=6]
  *        [windows=4096] [trailing=5]
  */
object SmokeRateRestart {
  def main(args: Array[String]): Unit = {
    val nEvents = args.lift(0).map(_.toLong).getOrElse(50000000L)
    val nTypes = args.lift(1).map(_.toInt).getOrElse(8)
    val chunks = args.lift(2).map(_.toInt).getOrElse(16)
    val restartAfter = args.lift(3).map(_.toInt).getOrElse(6)
    val windows = args.lift(4).map(_.toLong).getOrElse(4096L)
    val trailing = args.lift(5).map(_.toInt).getOrElse(5)
    require(restartAfter > 0 && restartAfter < chunks)
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = java.nio.file.Files.createTempDirectory("smoke_rate")
    val streamDir = base.resolve("in"); val cp = base.resolve("cp")
    val stateDir = base.resolve("state")
    java.nio.file.Files.createDirectories(streamDir)

    // one-minute windows; ts strictly monotone in id; type mixes by id
    // hash so every window holds most types (and some windows stay
    // silent for some types — the spine rows the scorer must invent)
    val stepSecs = 60L
    val spanSecs = windows * stepSecs
    val baseEpoch = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond
    def corpus = spark.range(nEvents).select(
      concat(lit("t"), pmod(hash(col("id")), lit(nTypes)).cast("string"))
        .as("event_type"),
      timestamp_seconds(lit(baseEpoch) +
        (col("id") * lit(spanSecs) / lit(nEvents)).cast("long")).as("ts"),
      col("id"))

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
      Thread.sleep(5)
    }

    val sch = org.apache.spark.sql.types.StructType.fromDDL(
      "event_type STRING, ts TIMESTAMP")
    type RateRow = (Long, String, Long, Option[Double], Option[Double], Boolean)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[RateRow]()
    @volatile var epochsSeen = 0
    val sink = (df: DataFrame, epoch: Long) => {
      val rows = df.collect().map(r => (r.getTimestamp(0).getTime,
        r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
      rows.foreach(emitted.add)
      epochsSeen += 1
      println(f"[smoke] epoch $epoch%3d emitted ${rows.length} scored rows")
    }
    def writer() = EventStreams.rateAnomalyStream(
        spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(streamDir.toString),
        windowLength = "1 minute", trailing = trailing, zThreshold = 3.0,
        watermark = "1 second", stateDir = Some(stateDir.toString))(sink)
      .option("checkpointLocation", cp.toString)

    println(s"[smoke] $nEvents events / $nTypes types / $windows windows / " +
      s"$chunks chunks, restart after $restartAfter; trailing=$trailing")
    (0 until restartAfter).foreach(writeChunk)
    var t0 = System.nanoTime()
    val q1 = writer().start()
    q1.processAllAvailable(); q1.stop()
    val run1s = (System.nanoTime() - t0) / 1e9
    println(f"[smoke] run 1: $epochsSeen epochs, $run1s%.1f s — STOPPING mid-corpus")

    (restartAfter until chunks).foreach(writeChunk)
    spark.range(1).select(lit("t0").as("event_type"),
        timestamp_seconds(lit(baseEpoch + spanSecs + 600L)).as("ts"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(base.resolve("stageP").toString)
    val pPart = java.nio.file.Files.list(base.resolve("stageP")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(pPart, streamDir.resolve("chunk_zzz_pusher.parquet"))

    t0 = System.nanoTime()
    val q2 = writer().start() // fresh accumulator vars: must reload state
    q2.processAllAvailable(); q2.stop()
    val run2s = (System.nanoTime() - t0) / 1e9
    println(f"[smoke] run 2 (resumed): $epochsSeen epochs total, $run2s%.1f s")

    t0 = System.nanoTime()
    val batch = EventStreams.rateAnomaly(corpus.drop("id"),
        windowLength = "1 minute", trailing = trailing, zThreshold = 3.0)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
      .toSeq
    val batchS = (System.nanoTime() - t0) / 1e9
    println(f"[smoke] batch twin: ${batch.size} scored rows, $batchS%.1f s")

    import scala.jdk.CollectionConverters._
    val streamed = emitted.asScala.toSeq.sortBy(r => (r._1, r._2))
    val expected = batch.sortBy(r => (r._1, r._2))
    // the pusher's own window never finalizes, so the streamed horizon
    // must already END at the last real window — no filter applied
    val ok = streamed == expected
    println(s"[smoke] scored rows identical across restart: $ok " +
      s"(streamed=${streamed.size}, batch=${expected.size}, " +
      s"anomalies=${expected.count(_._6)})")
    if (!ok) {
      val missing = expected.toSet -- streamed.toSet
      val extra = streamed.toSet -- expected.toSet
      println(s"[smoke] missing=${missing.take(5)}")
      println(s"[smoke] extra=${extra.take(5)}")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }
}
