package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** In-memory table registry mirroring the reference's core design: datasets
  * are stored once in RAM and queried many times
  * (reference: qcache/dataset_cache.py — the cache IS the storage layer).
  *
  * Parquet-backed tables register lazily and persist MEMORY_ONLY (Spark's
  * columnar in-memory format — the Tungsten analog of the reference's
  * pandas column blocks). On a cluster the persisted blocks distribute
  * across executors; locality-aware scheduling then reads them shuffle-free.
  */
object TableRegistry {
  private val cache = new ConcurrentHashMap[String, DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent(s"$dir/$name", _ => {
      spark.read.parquet(s"$dir/$name.parquet").persist(StorageLevel.MEMORY_ONLY)
    })

  /** Force-materialize every table of a scale-factor dir (the "store" phase
    * of the reference's store-then-query lifecycle). */
  def warmup(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach(n =>
      try table(spark, dir, n).count()
      catch { case _: Throwable => () }) // missing table: let queries report
}
