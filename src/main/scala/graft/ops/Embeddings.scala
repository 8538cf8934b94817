package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-column maintenance operators for training pipelines:
  * storage quantization and class-conditional outlier detection.
  *
  * Both are shaped for a 100 TB corpus: quantization is map-only (no
  * shuffle at all), and outlier scoring shuffles only the exploded
  * (label, position, value) triples for the centroid aggregate — 64 rows
  * per vector of a few bytes each, with map-side partial aggregation
  * collapsing them to (labels × dim) rows before the exchange — then
  * broadcasts the tiny centroid table back over the corpus.
  */
object Embeddings {

  /** Symmetric int8 scalar quantization: per-vector scale
    * `max(|v|)/127`, elements `clamp(round_half_up(v/scale), ±127)`.
    * Round-half-up is spelled `floor(x + 0.5)` deliberately — identical
    * semantics in every engine, where `round()`'s half-tie behavior on
    * binary floats is not (oracle-portability). Zero vectors quantize to
    * all-zero with scale 0. Map-only; the 4× size cut is what makes a
    * 100 TB float corpus a 25 TB int8 one.
    *
    * Output: (id, scale, q) with scale rounded to 1e-9 for stable
    * cross-engine comparison.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = array_max(transform(v, abs(_))) / lit(127.0d)
    df.select(
      col(idCol).as("id"),
      round(scale, 9).as("scale"),
      when(scale === 0, transform(v, _ => lit(0).cast("int")))
        .otherwise(transform(v, x =>
          greatest(lit(-127), least(lit(127),
            floor(x / scale + lit(0.5d)).cast("int"))))).as("q"))
  }

  /** Per-label mean vector. Plans as posexplode → two-level aggregate:
    * the (label, pos) partial averages combine map-side, so the exchange
    * carries O(labels × dim) rows regardless of corpus size, and the
    * array is reassembled position-sorted in the final (tiny) aggregate.
    */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"))

  /** Class-conditional outliers: each vector's cosine distance to its
    * label's centroid, keeping the `k` farthest per label — the standard
    * mislabeled/degenerate-example screen. The centroid table (labels ×
    * dim) is broadcast, so the corpus is scanned once map-side; the
    * per-label top-k runs as a WindowGroupLimit (each task keeps k rows
    * per label before the shuffle).
    */
  def labelOutliers(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int = 10): DataFrame = {
    val cents = labelCentroids(df, vecCol, labelCol)
    // Rank on the ROUNDED distance with an id tie-break: last-ulp float
    // differences between engines (or between partial-aggregation orders)
    // must not decide top-k membership, or the result set isn't stable.
    val scored = df
      .join(broadcast(cents.withColumnRenamed("label", "__clabel")),
        col(labelCol) === col("__clabel"))
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        round(lit(1.0d) - Similarity.cosine(col(vecCol).cast("array<double>"),
          col("centroid")), 6).as("dist"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("dist").desc, col("id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
