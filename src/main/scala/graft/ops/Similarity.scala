package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *   - brute-force top-k: broadcast the (small) query set against the
  *     corpus — map-side cosine per (query, row), per-query top-k via
  *     window. No corpus shuffle at all; scales linearly with corpus size
  *     and executor count.
  *   - LSH-bucketed: random-hyperplane sign bits (computed with
  *     deterministic pseudo-hyperplanes from xxhash64) → candidates share
  *     a signature band → exact cosine only within buckets. The scale path
  *     when the query set is itself large.
  *
  * Vector math uses zip_with/aggregate higher-order expressions — no UDFs.
  * Embedding-cosine near-duplicate detection reuses the same primitives.
  */
/** Built IVF coarse-quantizer cache: centroids keyed by the canonicalized
  * corpus plan + build params. Bounded (drops the oldest entry past 64 —
  * each entry is nCells × dim doubles, a few KB). `clear()` for tests. */
private[graft] object IvfIndexCache {
  private type Key = (Int, String, String, Int, Int)
  private type Entry = (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    Seq[Seq[Double]])
  private val maxEntries = 64
  private val cache = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, false) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > maxEntries
  }
  /** `idCol` is part of the key because the deterministic centroid sample
    * hashes ids — two builds over the same plan with different id columns
    * select different centroids and must not share an entry. */
  def getOrBuild(corpus: org.apache.spark.sql.DataFrame, idCol: String,
                 vecCol: String, nCells: Int, iters: Int)
                (build: => Seq[Seq[Double]]): Seq[Seq[Double]] = {
    val plan = corpus.queryExecution.analyzed
    val key = (plan.semanticHash(), idCol, vecCol, nCells, iters)
    cache.synchronized {
      val hit = cache.get(key)
      // the Int hash can collide across corpora; sameResult is the
      // ground truth, a hash collision is just a rebuild
      if (hit != null && hit._1.sameResult(plan)) return hit._2
    }
    val built = build // outside the lock: building runs Spark jobs
    cache.synchronized { cache.put(key, (plan, built)) }
    built
  }
  def size: Int = cache.synchronized(cache.size())
  def clear(): Unit = cache.synchronized(cache.clear())
}

object Similarity {

  /** Vector dimensionality probe (one tiny job); callers on fixed-dim
    * corpora should pass dim explicitly instead. */
  def vecDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head.getInt(0)

  /** Row-count estimate for sizing LSH bucket widths and partition
    * spreads. Statistics-only — NEVER runs a job: the previous count()
    * fallback re-executed the operator's whole upstream plan just to pick
    * a hash width or a partition count, and rowCount does not propagate
    * through Filter/Project without CBO, so any derived input paid it.
    * Only the order of magnitude matters (consumers take a log2 or cap at
    * defaultParallelism), so the estimate cascades:
    *
    *   1. top-level stats rowCount (free and exact on a materialized
    *      cached relation — the store-once-query-many hot path);
    *   2. the nearest descendant node carrying a rowCount — an upper
    *      bound for the filter/project-only derivations these operators
    *      see, and an upper bound only narrows LSH buckets;
    *   3. sizeInBytes / rowBytes — order-of-magnitude (unknown sizes
    *      report Long.MaxValue, mapped to `unknownAs` rather than a
    *      nonsense 2^55 — a 1M-row guess by default, which narrows LSH
    *      bands sensibly, but the segmented-carry gates pass
    *      `unknownAs = Long.MaxValue`: for THEM an unknown-size input
    *      must classify as big (segment — the safe direction), not small
    *      (keep the single-task hot-key window — the exact straggler the
    *      gate exists to avoid)). `rowBytes` defaults to 256 (text-table rows);
    *      callers on WIDE rows pass their real width — an embedding
    *      table at ~8·dim bytes/row divided by the flat 256 would
    *      overestimate rows ~24× and inflate an auto-sized LSH band by
    *      ~5 bits, silently narrowing buckets and recall. */
  private[graft] def approxRows(df: DataFrame, rowBytes: Long = 256L,
                                unknownAs: Long = 1L << 20): Long = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.map(c => math.max(c.toLong, 1L)).getOrElse {
      plan.collectFirst {
        case p if p.stats.rowCount.isDefined =>
          math.max(p.stats.rowCount.get.toLong, 1L)
      }.getOrElse {
        val bytes = plan.stats.sizeInBytes
        if (bytes >= BigInt(Long.MaxValue) / 4) unknownAs
        else math.max(bytes.toLong / math.max(rowBytes, 1L), 1L)
      }
    }
  }

  /** Dot product of two array<double> columns — native codegen kernel
    * (graft.functions.DotProductExpr). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(graft.functions.DotProductExpr(
      org.apache.spark.sql.GraftSqlShims.expression(a.cast("array<double>")),
      org.apache.spark.sql.GraftSqlShims.expression(b.cast("array<double>"))))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Cosine from a precomputed-norm pair — norms are per-ROW quantities, so
    * join-heavy operators compute them once per input row instead of once
    * per candidate pair. Same arithmetic as cosine(). */
  private def cosineWithNorms(a: Column, na: Column, b: Column, nb: Column): Column = {
    val d = na * nb
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors (excluding self). Query side is broadcast — the corpus
    * is scanned once, map-side, then only (nQueries × corpusRows reduced by
    * window top-k) flows into the shuffle. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qn")))
    val c = graft.ops.Dedup.spread(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cn"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineWithNorms(col("qvec"), col("qn"), col("cvec"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Random-hyperplane signature: bit j = sign of <v, h_j>, with the ±1
    * planes precomputed on the driver — the native codegen kernel
    * (graft.functions.HyperplaneSignatureExpr). */
  def hyperplaneSignature(vec: Column, bits: Int, dim: Int): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.HyperplaneSignatureExpr(
        org.apache.spark.sql.GraftSqlShims.expression(vec.cast("array<double>")),
        bits, dim))

  /** HOF formulation of the same signature — bit-identical to the kernel
    * (asserted in tests), kept as the reference implementation. */
  def hyperplaneSignatureHof(vec: Column, bits: Int, dim: Int): Column =
    array((0 until bits).map { j =>
      val plane = typedLit((0 until dim).map(i =>
        graft.functions.SignatureKernels.planeSign(j, i)))
      val proj = aggregate(zip_with(vec.cast("array<double>"), plane, (x, s) => x * s),
        lit(0.0d), (acc, x) => acc + x)
      when(proj >= 0, lit(1)).otherwise(lit(0))
    }: _*)

  /** LSH-bucketed ANN: candidates must share one full band of the
    * hyperplane signature; exact cosine ranks candidates per query.
    * Recall < 1 by construction — `bands`×`bitsPerBand` trades recall for
    * candidate volume.
    *
    * `bitsPerBand < 0` (the default) scales the band width with the
    * corpus, `ceil(log2(n/16))` clamped to [4, 24] — a fixed width makes
    * bucket occupancy (and the per-query candidate count) grow linearly
    * with corpus size. Sized from plan statistics (no job); pass it
    * explicitly when the corpus size is known.
    *
    * `bitsPerBand == 0` is the PROBE-ALL degenerate: a zero-width band
    * hashes every signature to one bucket, so the candidate set is the
    * full corpus and the output must equal [[bruteForceTopK]]'s exact
    * ranking (identical cosine arithmetic, rounding, and tie-break).
    * That is the oracle anchor for this operator (x7b) — recall-forcing
    * parameters driven through the SAME banded join machinery — not a
    * production setting. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bands: Int = 8, bitsPerBand: Int = -1,
              dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else vecDim(corpus, vecCol)
    val bpb = if (bitsPerBand >= 0) bitsPerBand else {
      // stats-only estimate, never a job; rows are vector-dominated, so
      // size by the real ~8·dim width, not the 256-byte text default
      val n = approxRows(corpus, rowBytes = 8L * d + 16L)
      math.min(24, math.max(4, math.ceil(math.log(n / 16.0) / math.log(2)).toInt))
    }
    val bits = bands * bpb
    def banded(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"),
          norm(col(vecCol)).as(s"${side}_norm"),
          hyperplaneSignature(col(vecCol), bits, d).as("sig"))
        .select(col(s"${side}_id"), col(s"${side}_vec"), col(s"${side}_norm"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(concat_ws(",", slice(col("sig"), b * lit(bpb) + 1, lit(bpb)))))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    val c = banded(corpus, "neighbor")
    val q = banded(queries, "query")
    val cand = q.join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "query_vec", "query_norm",
        "neighbor_id", "neighbor_vec", "neighbor_norm")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosineWithNorms(col("query_vec"), col("query_norm"),
        col("neighbor_vec"), col("neighbor_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** L2-normalize an embedding column (zero vectors pass through). */
  def l2Normalize(vec: Column): Column = {
    val n = norm(vec)
    when(n === 0, vec.cast("array<double>"))
      .otherwise(transform(vec.cast("array<double>"), x => x / n))
  }

  /** Distributed SPHERICAL-k-means refinement of IVF centroids: `iters`
    * rounds of assign (fused CentroidDotsExpr argmax, map-only) →
    * element-wise mean per cell (posexplode to (cell, dim) pairs → one
    * partial-aggregating shuffle of ≤ nCells×dim groups) → L2-normalize
    * the mean (driver-side, nCells×dim scalars). Normalization keeps the
    * dot-product argmax equal to the COSINE argmax — with raw means,
    * centroid norms shrink with cell spread and the assignment drifts
    * toward large-norm cells. Empty cells keep their previous centroid.
    * Each round is one pass over the corpus; the result plugs into
    * ivfTopK's query path unchanged. */
  def kmeansRefine(corpus: DataFrame, vecCol: String,
                   initial: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    def normalize(c: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    var centroids = initial.map(normalize)
    val d = if (initial.nonEmpty) initial.head.length else 0
    for (_ <- 0 until iters) {
      val dots = org.apache.spark.sql.GraftSqlShims.column(
        graft.functions.CentroidDotsExpr(
          org.apache.spark.sql.GraftSqlShims.expression(col("__v")), centroids))
      // nearest centroid by cosine ∝ dot/|v| — |v| constant per row
      val assigned = corpus
        .select(col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__scores", dots)
        .withColumn("__cell", (array_position(col("__scores"),
          array_max(col("__scores"))) - 1).cast("int"))
      val means = assigned
        .select(col("__cell"), posexplode(col("__v")))
        .groupBy(col("__cell"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("__cell"))
        .agg(map_from_arrays(collect_list(col("pos")),
          collect_list(col("m"))).as("mm"))
        .collect()
        .map { r =>
          val mm = r.getAs[Map[Int, Double]]("mm")
          r.getInt(0) -> Seq.tabulate(d)(i => mm.getOrElse(i, 0.0))
        }.toMap
      centroids = centroids.zipWithIndex.map { case (c, i) =>
        means.get(i).map(normalize).getOrElse(c)
      }
    }
    centroids
  }

  /** Spherical k-means cluster assignment — the semantic-bucketing stage
    * of a training pipeline (topic balancing, per-cluster sampling caps,
    * cluster-scoped near-dup). Reuses the IVF coarse-quantizer build
    * (deterministic min-hash-per-slot centroid sample + distributed
    * k-means refinement) through the SAME index cache — the cached value
    * is identical to [[ivfTopK]]'s, so an ANN index and a clustering over
    * one corpus share a single build; normalization for the cosine
    * argmax happens on the retrieved copy, driver-side, O(k·dim).
    *
    * The assignment itself is map-only: one fused CentroidDotsExpr pass
    * per row (centroids normalized ⇒ dot argmax = cosine argmax), no
    * shuffle at any corpus size. Returns every input column plus
    * `cluster` (0-based) and `cohesion` (cosine to the assigned
    * centroid, rounded to 4 decimals). */
  def clusterAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    iters: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    clusterAssignWith(df, vecCol, buildQuantizer(df, idCol, vecCol, k, iters))
  }

  /** The shared coarse-quantizer build — deterministic min-hash-per-slot
    * centroid sample plus optional distributed k-means refinement —
    * behind the session index cache. [[ivfTopK]] and [[clusterAssign]]
    * both resolve their centroids here, so an ANN index and a clustering
    * over one corpus share a single build; [[graft.ops.IvfIndex]] wraps
    * it to persist the result as an artifact.
    *
    * Deterministic sample without a corpus sort: hash every id into one
    * of nCells slots and keep the min-hash vector per slot — partial
    * (map-side) aggregation reduces each partition to ≤ nCells rows
    * before the one tiny shuffle, so centroid selection is O(corpus) map
    * work + O(nCells) shuffle, never a global ordering of 100 TB to pick
    * 64 rows. */
  private[graft] def buildQuantizer(df: DataFrame, idCol: String, vecCol: String,
                                    nCells: Int, iters: Int): Seq[Seq[Double]] =
    IvfIndexCache.getOrBuild(df, idCol, vecCol, nCells, iters) {
      val sampled: Seq[Seq[Double]] = df
        .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
        .groupBy(pmod(xxhash64(col("__id")), lit(nCells)).as("__slot"))
        .agg(min_by(col("__v"), struct(xxhash64(col("__id")), col("__id"))).as("__v"))
        .orderBy("__slot")
        .collect()
        .map(r => r.getAs[scala.collection.Seq[Double]]("__v").toSeq)
        .toSeq
      if (iters > 0) kmeansRefine(df, vecCol, sampled, iters) else sampled
    }

  /** Assignment-only spherical k-means over CALLER-SUPPLIED centroids —
    * [[clusterAssign]]'s map-only tail without the quantizer build. This
    * is the production shape when centroids come from a prior build (or
    * another system), and the oracle-checkable shape: with the centroid
    * list fixed, the assignment is a deterministic argmax DuckDB can
    * replay (x42b). Centroids are L2-normalized here, so the fused
    * dot-product argmax equals the cosine argmax regardless of the
    * caller's scaling; ties take the FIRST (lowest-index) centroid
    * (array_position returns the first occurrence of the max). */
  def clusterAssignWith(df: DataFrame, vecCol: String,
                        rawCentroids: Seq[Seq[Double]]): DataFrame = {
    require(rawCentroids.nonEmpty, "centroids must be non-empty")
    require(rawCentroids.map(_.length).distinct.size == 1,
      "centroids must share one dimensionality")
    val centroids = rawCentroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    val dots = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.CentroidDotsExpr(
        org.apache.spark.sql.GraftSqlShims.expression(
          col(vecCol).cast("array<double>")), centroids))
    // __scores in its own projection: argmax + max read it twice (the
    // CollapseProject rule keeps a non-cheap multiply-referenced alias)
    df.withColumn("__scores", dots)
      .withColumn("cluster",
        (array_position(col("__scores"), array_max(col("__scores"))) - 1).cast("int"))
      .withColumn("cohesion",
        // an all-zero vector has norm 0 (and all-zero dots): define its
        // cosine cohesion as 0 instead of NaN, matching cosine()'s guard
        when(norm(col(vecCol)) === 0, lit(0.0))
          .otherwise(round(array_max(col("__scores")) / norm(col(vecCol)), 4)))
      .drop("__scores")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every corpus
    * vector to its nearest of `nCells` centroid cells (one map-side pass);
    * each query probes its `nProbe` nearest cells and ranks only those
    * cells' members by exact cosine. The index is embarrassingly
    * partitionable: cell assignment is stateless per row, and the probe
    * join shuffles on cell id. Centroids are a deterministic hash-ordered
    * sample of the corpus (no training iterations — a k-means refinement
    * drops in without changing the query path).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 64, nProbe: Int = 4,
              dim: Int = -1, kmeansIters: Int = 0): DataFrame =
    // Build-once-query-many: the coarse quantizer (sample + optional
    // k-means rounds) is the INDEX — several driver-side jobs that any
    // real ANN deployment pays once per corpus, not once per query. The
    // cache key is the canonicalized corpus plan + build parameters, so a
    // changed corpus (different plan) rebuilds and identical corpora
    // share. Mirrors TableRegistry's store-once lifecycle. `dim` is
    // unused (kept for source compatibility): the centroid kernel sizes
    // itself from the centroid list.
    ivfTopKWith(corpus, queries, idCol, vecCol, k,
      buildQuantizer(corpus, idCol, vecCol, nCells, kmeansIters), nProbe)

  /** [[ivfTopK]]'s query path over CALLER-SUPPLIED centroids — no build,
    * no cache: the production shape when the quantizer is a persisted
    * artifact ([[graft.ops.IvfIndex.load]]) built once per corpus rather
    * than once per server process. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, centroids: Seq[Seq[Double]],
                  nProbe: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(centroids.map(_.length).distinct.size == 1,
      "centroids must share one dimensionality")
    val nActual = centroids.length

    // cell scores: dot product against every centroid, one fused codegen
    // pass (graft.functions.CentroidDotsExpr). Per-row norm divisors are
    // constant within a row, so argmax / probe order are unchanged by
    // using raw dots instead of cosine.
    def cellScores(vec: Column): Column =
      org.apache.spark.sql.GraftSqlShims.column(graft.functions.CentroidDotsExpr(
        org.apache.spark.sql.GraftSqlShims.expression(vec.cast("array<double>")),
        centroids))

    // __scores is materialized in its own projection and read twice by the
    // argmax — CollapseProject keeps a non-cheap alias referenced more than
    // once in its own layer, so the kernel runs exactly once per row (the
    // MinHash lesson: never inline a heavy expression into two consumers).
    val c = graft.ops.Dedup.spread(corpus, col(idCol))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cn"))
      .withColumn("__scores", cellScores(col("cvec")))
      .withColumn("cell", (array_position(col("__scores"),
        array_max(col("__scores"))) - 1).cast("int"))
      .drop("__scores")

    // probe cells: indices of the nProbe highest scores (query side is tiny
    // and broadcast, so the HOF sort-struct trick is fine here)
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qn"))
      .withColumn("__scores", cellScores(col("qvec")))
      .withColumn("cell", explode(slice(
        transform(array_sort(zip_with(col("__scores"),
            sequence(lit(0), lit(nActual - 1)),
            (s, i) => struct((-s).as("neg"), i.as("cell")))),
          s => s.getField("cell")),
        1, nProbe)))
      .drop("__scores")

    val cand = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineWithNorms(col("qvec"), col("qn"), col("cvec"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (cos ≥ threshold) via the same
    * LSH bucketing, self-join form.
    *
    * `bitsPerBand <= 0` (the default) sizes the band width to the corpus:
    * `ceil(log2(n / 16))` clamped to [8, 24], so expected bucket occupancy
    * stays O(1) as the corpus grows — a fixed width makes occupancy (and
    * the quadratic in-bucket pair cost) grow linearly with rows until the
    * maxBucket skew guard silently truncates recall. The trade is explicit:
    * per-band match probability is p^bits with p = 1 - acos(threshold)/π,
    * so recall = 1 - (1 - p^bits)^bands falls as bits rise; callers who
    * need high recall on huge corpora should raise `bands` alongside. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, bands: Int = 8,
                         bitsPerBand: Int = 0, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else vecDim(df, vecCol)
    val bpb = if (bitsPerBand > 0) bitsPerBand else {
      // stats-only estimate (exact on cached relations, bounded above
      // on derived plans) — callers that already know the corpus size
      // can pass bitsPerBand explicitly. Rows are vector-dominated:
      // divide by the real ~8·dim width, not the 256-byte text default,
      // or the row overestimate inflates the band width ~5 bits and
      // silently narrows buckets (missed near-duplicates).
      val n = approxRows(df, rowBytes = 8L * d + 16L)
      math.min(24, math.max(8, math.ceil(math.log(n / 16.0) / math.log(2)).toInt))
    }
    val bits = bands * bpb
    // In-bucket pair generation with the vector riding through the one
    // groupBy shuffle (see Dedup.bucketPairsWithPayload) — cosine verifies
    // in-bucket, pairs dedup after, when rows are narrow.
    val rows = graft.ops.Dedup.spread(df, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"),
        hyperplaneSignature(col(vecCol), bits, d).as("sig"))
    val banded = rows
      .select(struct(col("id"), col("vec"), col("nrm")).as("p"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * lit(bpb) + 1, lit(bpb)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    graft.ops.Dedup.bucketPairsWithPayload(banded)
      .withColumn("cos", cosineWithNorms(col("a.vec"), col("a.nrm"),
        col("b.vec"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact embedding-cosine near-duplicate pairs within an id-bounded
    * slice — the oracle-checkable quadratic anchor for
    * [[cosineNearDupPairs]] (cosine itself is deterministic; only the
    * LSH candidate set is approximate), the same role
    * `Dedup.shingleJaccardPairsExact` plays for the MinHash path.
    * Deliberately `maxId`-bounded: the all-pairs join is O(n²) by
    * construction and exists for correctness anchoring; the LSH form is
    * the scale path. */
  def cosineNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
                              maxId: Long, threshold: Double): DataFrame = {
    val rows = graft.ops.Dedup.spread(df.filter(col(idCol) < maxId), col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
    val a = rows.select(col("id").as("__ida"), col("vec").as("__veca"),
      col("nrm").as("__nrma"))
    val b = rows.select(col("id").as("__idb"), col("vec").as("__vecb"),
      col("nrm").as("__nrmb"))
    a.crossJoin(b).filter(col("__ida") < col("__idb"))
      .withColumn("cos", cosineWithNorms(col("__veca"), col("__nrma"),
        col("__vecb"), col("__nrmb")))
      .filter(col("cos") >= threshold)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }

  /** Canonical 16-byte fingerprint of a numeric vector: md5 over the
    * per-element round-trip string rendering. Spark's float/double →
    * string formatting is shortest-round-trip (injective), so equal
    * fingerprints ⟺ equal vectors up to the same 2^-128 md5 collision
    * the text family's [[graft.ops.TextOps.fingerprintMd5]] accepts —
    * and the collapse shuffle key stays 16 bytes instead of 8·dim. */
  private[graft] def vecFingerprint(vec: Column): Column =
    md5(concat_ws(",", transform(vec, x => x.cast("string"))))

  /** [[graft.ops.Dedup.exactByTextWeighted]] for EMBEDDINGS: exact-
    * duplicate VECTOR classes collapse to their lowest-`orderCol`
    * representative with the class size attached (`mult`) — the
    * collapse step of the duplication-proof embedding-cosine family.
    * One map-side-combining aggregation on [[vecFingerprint]]; a
    * mass-duplicated vector costs one row per mapper pre-shuffle. */
  def exactByVecWeighted(df: DataFrame, vecCol: String,
                         orderCol: String): DataFrame = {
    val payload = struct(df.columns.map(graft.ops.Dedup.exactCol): _*)
    df.groupBy(vecFingerprint(graft.ops.Dedup.exactCol(vecCol)).as("__fp"))
      .agg(min_by(payload, struct(graft.ops.Dedup.exactCol(orderCol))).as("__keep"),
        count(lit(1)).as("mult"))
      .select(df.columns.map(c => col("__keep").getField(c).as(c)) :+ col("mult"): _*)
  }

  /** Duplication-proof embedding-cosine near-dup pairs — x90's pattern
    * for this family: exact-duplicate vector classes collapse to
    * representatives with multiplicity FIRST ([[exactByVecWeighted]] —
    * cosine is a pure function of the vector, so collapse loses no pair
    * RELATION), only representatives run the hyperplane-LSH banding of
    * [[cosineNearDupPairs]], and each pair carries both class sizes. On
    * an m-copies-each corpus the plain pair output scales m²; this
    * emits one row per relation, the expansion exactly recoverable
    * (mult_a·mult_b per row, m(m−1)/2 hamming-0-analogue cos=1 pairs
    * per class — [[graft.ops.Dedup.dedupSweepWeighted]] folds both).
    * Returns (id_a, id_b, cos, mult_a, mult_b), id_a < id_b, ids being
    * class representatives (lowest member id). */
  def cosineNearDupPairsWeighted(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, bands: Int = 8,
                                 bitsPerBand: Int = 0, dim: Int = -1): DataFrame = {
    val reps = exactByVecWeighted(df, vecCol, idCol)
    val d = if (dim > 0) dim else vecDim(df, vecCol)
    val bpb = if (bitsPerBand > 0) bitsPerBand else {
      // size bands to the PRE-collapse corpus (stats are exact there;
      // the rep relation is an aggregation whose row estimate isn't) —
      // an upper bound on the rep count, so buckets only get smaller
      val n = approxRows(df, rowBytes = 8L * d + 16L)
      math.min(24, math.max(8, math.ceil(math.log(n / 16.0) / math.log(2)).toInt))
    }
    val bits = bands * bpb
    val rows = graft.ops.Dedup.spread(reps, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("mult"),
        hyperplaneSignature(col(vecCol), bits, d).as("sig"))
    val banded = rows
      .select(struct(col("id"), col("vec"), col("nrm"), col("mult")).as("p"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", slice(col("sig"), b * lit(bpb) + 1, lit(bpb)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    graft.ops.Dedup.bucketPairsWithPayload(banded)
      .withColumn("cos", cosineWithNorms(col("a.vec"), col("a.nrm"),
        col("b.vec"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 6).as("cos"),
        col("a.mult").as("mult_a"), col("b.mult").as("mult_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact weighted embedding-cosine pairs within an id-bounded slice —
    * [[cosineNearDupPairsWeighted]]'s oracle anchor (x90's role for
    * this family, and unlike SimHash fully DuckDB-replayable: collapse
    * = GROUP BY the vector, pairs = quadratic list cosine over the
    * representatives). Deliberately quadratic over the collapsed reps —
    * `maxId`-bounded. */
  def cosineNearDupPairsWeightedExact(df: DataFrame, idCol: String,
      vecCol: String, maxId: Long, threshold: Double): DataFrame = {
    val reps = exactByVecWeighted(df.filter(col(idCol) < maxId), vecCol, idCol)
    val rows = graft.ops.Dedup.spread(reps, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("mult"))
    val a = rows.select(col("id").as("__ida"), col("vec").as("__veca"),
      col("nrm").as("__nrma"), col("mult").as("__multa"))
    val b = rows.select(col("id").as("__idb"), col("vec").as("__vecb"),
      col("nrm").as("__nrmb"), col("mult").as("__multb"))
    a.crossJoin(b).filter(col("__ida") < col("__idb"))
      .withColumn("cos", cosineWithNorms(col("__veca"), col("__nrma"),
        col("__vecb"), col("__nrmb")))
      .filter(col("cos") >= threshold)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        round(col("cos"), 6).as("cos"),
        col("__multa").as("mult_a"), col("__multb").as("mult_b"))
  }

  // ------------------------------------------------------------ SemDeDup

  /** Cluster-scoped embedding-cosine near-duplicate pairs — the pair
    * stage of semantic dedup (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540: cluster the embedding space, then dedup WITHIN
    * clusters only, so the candidate space shrinks from n² to Σ|cluster|²
    * and every cluster is an independent unit of work). Assignment is
    * the map-only fixed-centroid argmax of [[clusterAssignWith]]
    * (deterministic — x42b's oracle-proven path); candidates within a
    * cluster come from the same hyperplane-LSH banding as
    * [[cosineNearDupPairs]], with the cluster id folded into the bucket
    * key so no cross-cluster pair is ever generated or verified. Output:
    * (id_a, id_b, cluster, cos) with id_a < id_b and cos ≥ threshold;
    * precision is exact (cosine verifies in-bucket), recall is the LSH
    * trade documented on [[cosineNearDupPairs]].
    *
    * Shape at scale: one map-only assignment+signature pass, one
    * (band, bucket) shuffle, bucket-capped pair generation — identical
    * to the global near-dup path; the cluster key only PARTITIONS the
    * buckets further (strictly smaller buckets, never larger). */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[Seq[Double]], threshold: Double,
                         bands: Int = 8, bitsPerBand: Int = 0): DataFrame =
    withinClusterPairs(clusterAssignWith(df, vecCol, centroids),
      idCol, vecCol, threshold, bands, bitsPerBand)

  /** SemDeDup survivors: every input row (plus its `cluster`) except
    * those with a SMALLER-id near-duplicate (cos ≥ threshold) in the
    * same cluster — the standard greedy keep-first collapse
    * ([[graft.ops.Dedup.dropNearDuplicates]]'s rule, applied to the
    * cluster-scoped pair relation). Deterministic given the centroids;
    * for a quality-priority representative instead of min-id, feed
    * [[semanticDedupPairs]] to
    * [[graft.ops.Dedup.dropNearDuplicatesClusteredBy]]. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Double]], threshold: Double,
                    bands: Int = 8, bitsPerBand: Int = 0): DataFrame = {
    val assigned = clusterAssignWith(df, vecCol, centroids).drop("cohesion")
    graft.ops.Dedup.dropNearDuplicates(assigned,
      withinClusterPairs(assigned, idCol, vecCol, threshold, bands, bitsPerBand),
      idCol)
  }

  /** Exact within-cluster pair relation on an id-bounded slice — the
    * oracle-checkable anchor for [[semanticDedupPairs]] (the same role
    * [[cosineNearDupPairsExact]] plays for the global LSH path): the
    * cluster equi-join replaces LSH candidate generation, so the output
    * is the COMPLETE cluster-scoped pair set and DuckDB can replay it
    * (fixed-centroid argmax + pairwise list_cosine_similarity).
    * Quadratic per cluster by construction — `maxId`-bounded. */
  def semanticDedupPairsExact(df: DataFrame, idCol: String, vecCol: String,
                              centroids: Seq[Seq[Double]], maxId: Long,
                              threshold: Double): DataFrame =
    exactPairsOf(clusterAssignWith(df.filter(col(idCol) < maxId),
      vecCol, centroids), idCol, vecCol, threshold)

  /** The all-pairs stage over an ALREADY-ASSIGNED id-bounded frame —
    * shared by the exact pair and survivor forms so the fixed-centroid
    * assignment pass runs once per plan, not once per consumer. */
  private def exactPairsOf(assigned: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val rows = graft.ops.Dedup.spread(assigned, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("cluster"))
    val a = rows.select(col("id").as("__ida"), col("vec").as("__veca"),
      col("nrm").as("__nrma"), col("cluster"))
    val b = rows.select(col("id").as("__idb"), col("vec").as("__vecb"),
      col("nrm").as("__nrmb"), col("cluster"))
    a.join(b, Seq("cluster")).filter(col("__ida") < col("__idb"))
      .withColumn("cos", cosineWithNorms(col("__veca"), col("__nrma"),
        col("__vecb"), col("__nrmb")))
      .filter(col("cos") >= threshold)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        col("cluster"), round(col("cos"), 6).as("cos"))
  }

  /** Exact SemDeDup survivors on an id-bounded slice (the anchor twin of
    * [[semanticDedup]]): complete within-cluster pairs, then the same
    * greedy smaller-id drop. DuckDB replays it as a NOT EXISTS over the
    * assigned relation, so this row is oracle-checkable end to end. */
  def semanticDedupExact(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[Seq[Double]], maxId: Long,
                         threshold: Double): DataFrame = {
    val assigned = clusterAssignWith(df.filter(col(idCol) < maxId),
      vecCol, centroids)
    graft.ops.Dedup.dropNearDuplicates(assigned.drop("cohesion"),
      exactPairsOf(assigned, idCol, vecCol, threshold),
      idCol)
  }

  /** The shared LSH pair stage over an ALREADY-ASSIGNED frame (must carry
    * `cluster`). Identical machinery to [[cosineNearDupPairs]] with two
    * deltas: the cluster id is hashed into every band's bucket key, and a
    * post-pair cluster equality filter removes the (hash-collision-rare)
    * cross-cluster bucket cohabitants, so the pair relation is exactly
    * cluster-scoped. */
  private def withinClusterPairs(assigned: DataFrame, idCol: String,
                                 vecCol: String, threshold: Double,
                                 bands: Int, bitsPerBand: Int): DataFrame = {
    val d = vecDim(assigned, vecCol)
    val bpb = if (bitsPerBand > 0) bitsPerBand else {
      val n = approxRows(assigned, rowBytes = 8L * d + 16L)
      math.min(24, math.max(8, math.ceil(math.log(n / 16.0) / math.log(2)).toInt))
    }
    val bits = bands * bpb
    val rows = graft.ops.Dedup.spread(assigned, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("cluster"),
        hyperplaneSignature(col(vecCol), bits, d).as("sig"))
    val banded = rows
      .select(struct(col("id"), col("vec"), col("nrm"), col("cluster")).as("p"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",", col("cluster"),
            concat_ws(",", slice(col("sig"), b * lit(bpb) + 1, lit(bpb))))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    graft.ops.Dedup.bucketPairsWithPayload(banded)
      .filter(col("a.cluster") === col("b.cluster"))
      .withColumn("cos", cosineWithNorms(col("a.vec"), col("a.nrm"),
        col("b.vec"), col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cluster").as("cluster"), round(col("cos"), 6).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }
}
