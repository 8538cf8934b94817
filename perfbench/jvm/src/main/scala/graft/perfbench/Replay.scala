package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

import graft.engine.{ExprCompiler, Query, QueryEngine, QueryJson, UpdateEngine, XopEngine}
import graft.server.{CacheItem, Codec, DatasetCache, ShapeWarmer}
import graft.sources.{Ingest, Serialize}

/** Traced replay of one workload's seeded operation sequence in one JVM.
  *
  * Each operation runs through the layers' public functions in the order
  * GraftServer.handle calls them (decode → ingest → store materialize →
  * cache; or parse → compile/memo → serialize → encode), each call wrapped
  * in a span whose Spark work is counted by job group. Writes
  * `spans.jsonl` and `replay.json` (run-level numbers) to the output dir.
  *
  * Usage: Replay <plan dir> <out dir> <cache budget bytes> <overhead ops>
  * where the plan dir holds `ops.jsonl` (one operation per line, bodies
  * in files next to it, as sent on the wire). */
object Replay {
  private type Op = collection.Map[String, Any]

  def main(args: Array[String]): Unit = {
    val Array(planDir, outDir, budget, overheadOps) = args
    val spark = Calib.session()
    val sc = spark.sparkContext
    val listener = new GroupListener
    sc.addSparkListener(listener)
    // the warmer's worker thread inherits the job group of whichever thread
    // first submits to it: create it now, outside every span, so its
    // background jobs count as unscoped work
    ShapeWarmer.drain()
    val t0 = System.nanoTime()
    val tracer = new Tracer(sc, listener, t0)
    val ops = Files.readAllLines(Paths.get(planDir, "ops.jsonl"), UTF_8).asScala
      .filter(_.nonEmpty).map(l => QueryJson.parse(l).asInstanceOf[Op]).toIndexedSeq
    val cache = new DatasetCache(budget.toLong, 0L)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val replayer = new Replayer(spark, cache, tracer, Paths.get(planDir))

    var failures = 0
    var cacheBytesPeak = 0L
    ops.foreach { op =>
      if (!replayer.run(op)) failures += 1
      cacheBytesPeak = math.max(cacheBytesPeak, cache.size)
    }
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // the fixed per-action floor: a bare one-row count, median of seven,
    // and the jobs one such action runs
    ShapeWarmer.drain()
    sc.setJobGroup("floor", "floor", interruptOnCancel = false)
    spark.range(1).count()
    val floor = (1 to 7).map { _ =>
      val a = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - a) / 1e6
    }.sorted.apply(3)
    sc.clearJobGroup()

    // tracing overhead: the same resident-key queries with spans off, on
    val resident = ops.filter(o => o("op") == "query" && o("phase") == "timed" &&
      cache.contains(o("key").toString)).take(overheadOps.toInt)
    replayer.phaseTag = "overhead"
    def pass(on: Boolean): Double = {
      tracer.enabled = on
      val a = System.nanoTime()
      resident.foreach(replayer.run)
      (System.nanoTime() - a) / 1e6 / math.max(1, resident.size)
    }
    val offOn = (1 to 3).map(_ => (pass(false), pass(true)))
    tracer.enabled = true
    val sortedOff = offOn.map(_._1).sorted
    val sortedOn = offOn.map(_._2).sorted

    org.apache.spark.PerfbenchShims.drainListeners(sc)
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    tracer.write(out.resolve("spans.jsonl"))
    val background = listener.get("")
    val floorJobs = listener.get("floor").jobs / 8.0
    val summary = Seq[(String, Any)](
      "ops" -> ops.size, "failures" -> failures,
      "gc_ms" -> gcMs.toDouble, "heap_peak_mb" -> heapPeakMb,
      "cache_bytes_peak" -> cacheBytesPeak, "action_floor_ms" -> floor,
      "floor_jobs" -> floorJobs,
      "overhead_ops" -> resident.size,
      "overhead_off_ms_per_op" -> sortedOff(1), "overhead_on_ms_per_op" -> sortedOn(1),
      "background_jobs" -> background.jobs)
    Files.write(out.resolve("replay.json"), Json.obj(summary).getBytes(UTF_8))
    ShapeWarmer.drain()
    spark.stop()
  }
}

/** Runs single operations the way GraftServer.handle does. */
final class Replayer(spark: SparkSession, cache: DatasetCache, tracer: Tracer,
                     planDir: Path) {
  private type Op = collection.Map[String, Any]
  private val resolver: String => Option[DataFrame] = k => cache.get(k).map(_.df)
  /** Phase recorded on request spans instead of the operation's own. */
  var phaseTag: String = null
  // Catalyst phase time already attributed, per query execution
  private val seenPhases =
    new java.util.IdentityHashMap[AnyRef, Map[String, Double]]()

  private def str(op: Op, k: String): Option[String] =
    op.get(k).filter(_ != null).map(_.toString)

  /** True when the operation ended as the server would answer 2xx. */
  def run(op: Op): Boolean = {
    val id = op("id").toString.toInt
    try tracer.request(id, s"request.${op("op")}") { s =>
      if (s != null) s.attrs("phase") = Option(phaseTag).getOrElse(op("phase"))
      op("op") match {
        case "store" => store(op)
        case "query" => query(op)
        case "update" => update(op)
        case "delete" => cache.delete(op("key").toString); true
      }
    } catch { case e: Throwable =>
      System.err.println(s"replay op $id failed: $e")
      false
    }
  }

  private def store(op: Op): Boolean = {
    val key = op("key").toString
    val ct = op("ct").toString
    val raw = Files.readAllBytes(planDir.resolve(op("body").toString))
    val body = tracer.span("codec.decode") { s =>
      val b = Codec.decodeBody(raw, str(op, "enc"))
      if (s != null) { s.attrs("wire_bytes") = raw.length; s.attrs("bytes") = b.length }
      b
    }
    if (cache.contains(key)) cache.delete(key)
    tracer.span("cache.evict") { s =>
      val d = cache.ensureFree(if (ct == "text/csv") body.length else body.length / 2)
      if (s != null) s.attrs("evicted") = d.length
    }
    val text = new String(body, UTF_8)
    val types = str(op, "types").toSeq.flatMap(_.split(';')).map { kv =>
      val p = kv.split('='); p(0) -> p(1)
    }.toMap
    val parsed = tracer.span("ingest.parse") { _ =>
      if (ct == "text/csv") Ingest.fromCsv(spark, text, types, Nil, extendedTypes = true)
      else Ingest.fromJsonRecords(spark, text, Map.empty, Nil)
    }
    // the server's store-time layout, step for step (GraftServer.store)
    val df = tracer.span("store.materialize") { s =>
      val estRows = (if (ct == "application/json") text.count(_ == '{')
                     else text.count(_ == '\n')).toLong max 1L
      val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (estRows / 50000L).toInt))
      parsed.persist(StorageLevel.MEMORY_ONLY)
      val d = parsed.repartitionByRange(parts, parsed(ExprCompiler.RowId))
        .sortWithinPartitions(ExprCompiler.RowId)
      d.persist(StorageLevel.MEMORY_ONLY)
      val rows = d.count()
      parsed.unpersist()
      if (s != null) s.attrs("rows") = rows
      d
    }
    tracer.span("cache.put") { s =>
      val size = inMemorySize(df)
      cache.put(key, df, size)
      if (s != null) { s.attrs("size") = size; s.attrs("cache_bytes") = cache.size }
    }
    tracer.span("warmer.warm") { _ => cache.peek(key).foreach(ShapeWarmer.warm) }
    true
  }

  /** GraftServer's size of a cached frame: the materialized relation's
    * stats, else the optimized plan's estimate, plus 100 bytes. */
  private def inMemorySize(df: DataFrame): Long = {
    val size = org.apache.spark.sql.GraftSqlShims.cachedSizeOf(df).getOrElse {
      val s = df.filter(lit(true)).queryExecution.optimizedPlan.stats.sizeInBytes
      if (s.isValidLong) s.toLong else 0L
    }
    100L + size
  }

  private def phasesOf(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }

  private def query(op: Op): Boolean = {
    val key = op("key").toString
    val text = op("text").toString
    val item: CacheItem = cache.get(key).getOrElse(return false)
    val q = tracer.span("query.parse") { _ => Query.parse(text) }
    val withStandIns = Ingest.addStandInColumns(item.df, Nil)
    val memoKey = ShapeWarmer.memoKey(Nil, text)
    val crossDataset = XopEngine.referencesDatasets(q)
    var built = false
    val result = tracer.span("engine.compile") { s =>
      val r =
        if (crossDataset || XopEngine.forcesExecution(q)) {
          built = true; QueryEngine.run(withStandIns, q, resolver)
        } else item.memoizedPlan(memoKey) {
          built = true; QueryEngine.run(withStandIns, q, resolver)
        }
      if (s != null) s.attrs("memo_hit") = !built
      r
    }
    val (json, rows) = tracer.span("serialize") { s =>
      val out = Serialize.toJsonCounted(result.df)
      if (s != null) {
        s.attrs("rows") = out._2
        s.attrs("chars") = out._1.length
        val qe = result.df.queryExecution
        val now = phasesOf(result.df)
        val before = Option(seenPhases.get(qe)).getOrElse(Map.empty)
        seenPhases.put(qe, now)
        Seq("analysis", "optimization", "planning").foreach { p =>
          s.attrs(s"catalyst_$p") = now.getOrElse(p, 0.0) - before.getOrElse(p, 0.0)
        }
      }
      out
    }
    if (q.offset.isDefined || q.limit.isDefined)
      tracer.span("query.unsliced") { _ => result.unslicedLength }
    val bytes = json.getBytes(UTF_8)
    if (!crossDataset && !XopEngine.hasMaintenance(q))
      ShapeWarmer.record(item.df.schema, Nil, text)
    tracer.span("codec.encode") { s =>
      val enc = Codec.chooseResponseEncoding(str(op, "accept_enc").getOrElse(""))
      val payload = Codec.encodeBody(bytes, enc)
      if (s != null && enc.isDefined) {
        s.attrs("bytes") = bytes.length; s.attrs("wire_bytes") = payload.length
      }
    }
    rows >= 0
  }

  private def update(op: Op): Boolean = {
    val key = op("key").toString
    val item = cache.get(key).getOrElse(return false)
    val q = tracer.span("query.parse") { _ => Query.parse(op("text").toString) }
    val withStandIns = Ingest.addStandInColumns(item.df, Nil)
    val updated = tracer.span("update.build") { _ => UpdateEngine.update(withStandIns, q) }
    tracer.span("update.materialize") { _ => cache.replaceFrame(key, updated) }
    true
  }
}
