package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Beyond-oracle scale validation for the event-time family: runs the
  * headline event operators on a replicated dataset built by
  * `scripts/make_scale.py` and checks EXACT linear-replication
  * invariants against the sf0.1 source instead of a DuckDB replay
  * (which stops being practical past ~10^8 rows).
  *
  * The generator replicates events R times with user_id/event_id offsets
  * and everything else (ts, event_type, value) untouched, so every
  * replica is a disjoint user population with an identical history.
  * Per-user operators therefore obey exact invariants at factor R:
  *
  *  - sessionize: every base session appears R times (distinct users,
  *    same (session_start, session_end, n_events)) — the grouped count
  *    per that key is EXACTLY R x the base count;
  *  - retention: each (cohort, offset) cell's n_users is EXACTLY R x;
  *  - funnel: each (ts_1..ts_k, steps_completed) profile count is
  *    EXACTLY R x;
  *  - windowed counts: per (window, type) n_events is EXACTLY R x and
  *    total_value is R x up to float rounding;
  *  - rate anomaly: per (window, type) n_events is EXACTLY R x while
  *    trail z-scores are SCALE-INVARIANT (mean and stddev both scale by
  *    R; the exact-decimal variance numerator scales by R^2), so z
  *    matches the base run to float tolerance and the spine row count
  *    is IDENTICAL (silence is scale-free).
  *
  * A violation of any of these is a real correctness bug, not noise —
  * the invariants hold in exact arithmetic by construction. The same
  * tool run against testdata-sf10 (R=100) cross-checks the invariant
  * harness itself against the full DuckDB replay that also runs there.
  *
  * Usage: ScaleProbe <scaledDir> <factor> [baseDir=/root/testdata/sf0.1]
  *        [onlyProbe,...]  — shuffle files accumulate for the JVM's
  * lifetime (ContextCleaner frees them lazily), so on a disk-tight box
  * run the corpus-exchange-sized sessionize probe in its OWN JVM:
  * `ScaleProbe <dir> <R> /root/testdata/sf0.1 sessionize`.
  * `factor` is the EVENTS replica count R of the scaled dir — the
  * generator replicates events at 128*factor/10, so testdata-sf10 is
  * R=1280 and testdata-sf100 is R=12800 (1.28B events).
  * Env:   SPARK_GRAFT_CPUS (default 4), SPARK_DRIVER_MEM via build.sbt
  *        fork options, SPARK_LOCAL_DIRS for shuffle/spill scratch.
  */
object ScaleProbe {
  import graft.streaming.EventStreams

  /** Shuffle partitions for the replicated corpus, well above the core
    * count so each reduce task's slice of a 10^8-10^9-row exchange stays
    * small. Every SCALE_PROBE.json record ran at this value. */
  val ShufflePartitions = 256

  def main(args: Array[String]): Unit = {
    val scaledDir = args(0)
    val factor = args(1).toLong
    val baseDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.engine.SessionTuning.local()
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      // zstd shuffle/spill compression: ~35% smaller than lz4 on these
      // rows — at 1.28B events the sessionize exchange + sort spill is
      // tens of GB and disk headroom, not CPU, is the binding constraint
      .config("spark.io.compression.codec", "zstd")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** EventStreams.eventsFrame WITHOUT the registry's MEMORY_ONLY
      * persist: at 1.28B rows the deserialized cache exceeds any
      * storage pool, so caching only buys eviction churn and
      * execution-memory contention. Same ts normalization
      * (EventStreams.scala eventsFrame). */
    def rawEvents(dir: String): org.apache.spark.sql.DataFrame = {
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val sec = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          graft.ops.Joins.granuleBucket(col("ts"), 1000000000L)
            .cast("timestamp")
        case _ => date_trunc("second", col("ts")).cast("timestamp")
      }
      raw.withColumn("ts", sec)
    }
    val haveEvents = new java.io.File(s"$scaledDir/events.parquet").exists()
    val haveDocs =
      new java.io.File(s"$scaledDir/documents.parquet").exists()
    val haveEmb =
      new java.io.File(s"$scaledDir/embeddings.parquet").exists()

    var failures = 0
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()

    /** One probe must not void the others (a disk-full task failure is
      * fatal to its job but not to the session). */
    val only = args.lift(3).map(_.split(",").toSet)
    def guarded(name: String)(body: => Unit): Unit =
      if (!only.forall(_.contains(name))) ()
      else try body catch {
        case e: Throwable =>
          failures += 1
          println(s"[probe] FAIL $name: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      timings(name) = dt
      println(f"[probe] $name%-28s ${dt}%8.1f s"); r
    }

    // ---------- documents family (replicas are disjoint doc_id
    // populations with identical text, so keep-min-id exact dedup must
    // return EXACTLY the base survivors — replica 0 carries the original,
    // minimal ids — and corpus token counts scale exactly xR) ----------
    if (haveDocs) {
      val bDocs = spark.read.parquet(s"$baseDir/documents.parquet")
      val sDocs = spark.read.parquet(s"$scaledDir/documents.parquet")
      val rDocs = sDocs.count() / math.max(1L, bDocs.count())
      println(f"[probe] docs base=${bDocs.count()}%,d " +
        f"scaled=${sDocs.count()}%,d factor=$rDocs")

      guarded("exact_dedup_eq") {
        val a = graft.ops.Dedup.exactByText(bDocs, "text", "doc_id")
        val s = graft.ops.Dedup.exactByText(sDocs, "text", "doc_id")
          .persist()
        timed("exact_dedup_eq")(s.count())
        val diff = s.exceptAll(a).count() + a.exceptAll(s).count()
        if (diff != 0) {
          failures += 1
          println(s"[probe] FAIL exact_dedup_eq: $diff rows differ from " +
            "the base survivors")
        } else println(s"[probe] PASS exact_dedup_eq: ${a.count()} " +
          "survivors, scaled output IDENTICAL to base (keep-min-id " +
          "lands on replica 0)")
        s.unpersist()
      }

      guarded("vocab_topk") {
        val a = graft.ops.TextOps.topTokens(bDocs, "text", 100)
          .withColumnRenamed("n", "n_b")
        val s = graft.ops.TextOps.topTokens(sDocs, "text", 100)
          .withColumnRenamed("n", "n_s").persist()
        timed("vocab_topk")(s.count())
        val bad = a.join(s, Seq("token"), "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rDocs).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL vocab_topk: $bad of the top-100 tokens " +
            s"violate n_s == $rDocs*n_b")
        } else println(s"[probe] PASS vocab_topk: same 100 tokens, " +
          s"counts exactly x$rDocs")
        s.unpersist()
      }

      // x95: the scaled corpus duplicates every text xR (disjoint ids),
      // so the leakage-free split faces R-sized exact classes — (1) no
      // class may straddle splits at scale, and (2) the class rep is the
      // replica-0 (= base) min id, so every base document must keep its
      // base-corpus label EXACTLY: scaling a corpus never moves a split
      guarded("split_leakfree") {
        val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        val s = graft.ops.Sampling.splitLeakFreeExact(
            sDocs, "doc_id", "text", splits)
          .select(col("doc_id"), col("split")).persist()
        timed("split_leakfree")(s.count())
        val straddle = sDocs.select(col("doc_id"),
            graft.ops.TextOps.fingerprintMd5(col("text")).as("__fp"))
          .join(s, "doc_id")
          .groupBy(col("__fp"))
          .agg(countDistinct(col("split")).as("nsp"))
          .filter(col("nsp") > 1).count()
        val base = graft.ops.Sampling.splitLeakFreeExact(
            bDocs, "doc_id", "text", splits)
          .select(col("doc_id"), col("split").as("bsplit"))
        val moved = s.join(base, "doc_id")
          .filter(col("split") =!= col("bsplit")).count()
        if (straddle != 0 || moved != 0) {
          failures += 1
          println(s"[probe] FAIL split_leakfree: $straddle straddling " +
            s"classes, $moved base labels moved by scaling")
        } else println("[probe] PASS split_leakfree: 0 straddling " +
          "classes at scale; every base label unchanged")
        s.unpersist()
      }

      // x9: per-doc quality features are a pure function of the text, so
      // the scaled corpus's PROFILE MULTISET is exactly the base's xR —
      // grouped by all four metric columns (bit-identical doubles across
      // replicas), counts must scale exactly. Null-safe join keys: a
      // null-text doc's null metrics must match its base row.
      guarded("quality_profiles") {
        def agg(df: DataFrame) =
          graft.ops.TextOps.qualityFeatures(df, "text")
            .groupBy("n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio")
            .agg(count(lit(1)).as("n"))
        val a = agg(bDocs).withColumnRenamed("n", "n_b")
        val s = agg(sDocs).withColumnRenamed("n", "n_s").persist()
        timed("quality_profiles")(s.count())
        val keys = Seq("n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio")
        val cond = keys.map(k => a(k) <=> s(k)).reduce(_ && _)
        val bad = a.join(s, cond, "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rDocs).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL quality_profiles: $bad profile groups " +
            s"violate n_s == $rDocs*n_b")
        } else println(s"[probe] PASS quality_profiles: ${a.count()} " +
          s"distinct profiles, counts exactly x$rDocs")
        s.unpersist()
      }

      // ---------- multimodal family (x12/x12b/x12c): every stage is a
      // PER-ROW PURE function of the payload bytes (byte-probe features,
      // header-field parses, stride-chunk slices), and replicas carry
      // byte-identical payloads under disjoint asset ids — so feature/
      // chunk multisets must scale EXACTLY xR and header round-trips
      // must hold row-for-row at corpus scale, no float tolerance ----------

      // x12: the batch-decode feature multiset is exactly xR — features
      // are (length + strided byte probes) of the payload, identical
      // across replicas, so each distinct (media_type, features) group's
      // count scales linearly and no new group may appear
      guarded("mm_features") {
        def agg(df: DataFrame) = graft.ops.Multimodal.decodeFeatures(spark,
            graft.ops.Multimodal.assetsFromText(df, "doc_id", "text"))
          .groupBy("media_type", "features").agg(count(lit(1)).as("n"))
        val a = agg(bDocs).withColumnRenamed("n", "n_b")
        val s = agg(sDocs).withColumnRenamed("n", "n_s").persist()
        timed("mm_features")(s.count())
        val bad = a.join(s,
            a("media_type") === s("media_type") && a("features") <=> s("features"),
            "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rDocs).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL mm_features: $bad feature groups violate " +
            s"n_s == $rDocs*n_b")
        } else println(s"[probe] PASS mm_features: ${a.count()} distinct " +
          s"feature vectors, multiset exactly x$rDocs")
        s.unpersist()
      }

      // x12b: header decode round-trips EVERY row at scale — each doc
      // becomes a byte-exact minimal PNG (signature + IHDR) whose
      // width/height derive from its OWN asset id (ids differ per
      // replica, so this is 5M distinct parses, not xR of one), and
      // sniffHeader must hand back exactly the encoded fields
      guarded("mm_meta") {
        def pngAssets(df: DataFrame) = df.select(
          col("doc_id").cast("long").as("asset_id"),
          lit("image").as("media_type"),
          unhex(concat(lit("89504E470D0A1A0A0000000D49484452"),
            lpad(hex((col("doc_id") % 1024 + 1).cast("int")), 8, "0"),
            lpad(hex((col("doc_id") % 768 + 1).cast("int")), 8, "0")))
            .as("payload"))
        val decoded = graft.ops.Multimodal.decodeMeta(pngAssets(sDocs))
          .persist()
        val total = timed("mm_meta")(decoded.count())
        val bad = decoded.filter(col("format") =!= "png" ||
          col("width") =!= (col("asset_id") % 1024 + 1).cast("int") ||
          col("height") =!= (col("asset_id") % 768 + 1).cast("int") ||
          col("payload_bytes") =!= 24L).count()
        val expectTotal = bDocs.count() * rDocs
        if (bad != 0 || total != expectTotal) {
          failures += 1
          println(s"[probe] FAIL mm_meta: $bad of $total header decodes " +
            s"violate the round-trip (expected $expectTotal rows)")
        } else println(s"[probe] PASS mm_meta: $total header decodes " +
          "round-trip width/height/format exactly")
        decoded.unpersist()
      }

      // x12c: frame-sample chunking is pure slicing over the payload —
      // the (chunk_index, chunk_bytes) multiset scales exactly xR (the
      // per-asset chunk sequence is identical across replicas)
      guarded("mm_chunks") {
        def agg(df: DataFrame) = graft.ops.Multimodal.sampleChunks(
            graft.ops.Multimodal.assetsFromText(df, "doc_id", "text"),
            chunkSize = 64, stride = 4)
          .groupBy("chunk_index", "chunk_bytes").agg(count(lit(1)).as("n"))
        val a = agg(bDocs).withColumnRenamed("n", "n_b")
        val s = agg(sDocs).withColumnRenamed("n", "n_s").persist()
        timed("mm_chunks")(s.count())
        val bad = a.join(s, Seq("chunk_index", "chunk_bytes"), "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rDocs).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL mm_chunks: $bad chunk groups violate " +
            s"n_s == $rDocs*n_b")
        } else println(s"[probe] PASS mm_chunks: ${a.count()} distinct " +
          s"(index, bytes) chunk groups, multiset exactly x$rDocs")
        s.unpersist()
      }

      // x29: the corpus profile over the NON-KEY columns (doc_id offsets
      // per replica, everything else repeats verbatim): counts and null
      // counts scale exactly xR, distinct/min/max are IDENTICAL
      guarded("profile_nonkey") {
        def rows(df: DataFrame) =
          graft.ops.Profile.profile(df.drop("doc_id")).collect()
            .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
              r.getLong(3), r.getString(4), r.getString(5)))).toMap
        val a = rows(bDocs)
        val s = timed("profile_nonkey")(rows(sDocs))
        val bad = a.keys.filter { c =>
          val (bn, bnull, bd, bmin, bmax) = a(c)
          val (sn, snull, sd, smin, smax) = s(c)
          sn != bn * rDocs || snull != bnull * rDocs || sd != bd ||
            smin != bmin || smax != bmax
        }
        if (bad.nonEmpty || s.keySet != a.keySet) {
          failures += 1
          println(s"[probe] FAIL profile_nonkey: columns ${bad.mkString(",")} " +
            "violate the xR profile invariant")
        } else println(s"[probe] PASS profile_nonkey: ${a.size} columns, " +
          s"counts x$rDocs, distinct/min/max identical")
      }

      // x34: exact interpolated per-source quantiles of the scaled corpus
      // against a DRIVER-side ground truth computed from the base's
      // per-(source, n_chars) counts xR (the base relation is tiny; the
      // scaled op aggregates 5M rows into per-group count maps — that
      // distributed machinery is what's under test; the interpolation
      // formula itself is oracle-pinned at sf0.01/sf1)
      guarded("quantiles") {
        val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
        val baseCounts = bDocs.filter(col("n_chars").isNotNull)
          .groupBy("source", "n_chars").agg(count(lit(1)).as("c")).collect()
          .map(r => (Option(r.get(0)).map(_.toString),
            r.getAs[Number]("n_chars").doubleValue, r.getLong(2)))
          .groupBy(_._1).map { case (src, rows) =>
            src -> rows.map(t => (t._2, t._3)).sortBy(_._1) }
        def expected(sorted: Seq[(Double, Long)], q: Double): Double = {
          val n = sorted.map(_._2 * rDocs).sum
          val pos = q * (n - 1).toDouble
          val k = math.floor(pos).toLong
          def at(rank: Long): Double = { // 0-indexed order statistic
            var acc = 0L
            sorted.find { case (_, c) =>
              acc += c * rDocs; acc > rank }.get._1
          }
          // Spark Percentile's own two-product interpolation form —
          // v1 + d*(v2−v1) can differ in the last ulp and this compare
          // is exact
          val lower = math.floor(pos); val higher = math.ceil(pos)
          val v =
            if (higher == lower) at(k)
            else (higher - pos) * at(lower.toLong) + (pos - lower) * at(higher.toLong)
          math.floor(v * 1e4 + 0.5) / 1e4
        }
        val got = timed("quantiles")(
          graft.ops.Profile.groupQuantiles(sDocs, "source", "n_chars", qs)
            .collect()
            .map(r => (Option(r.get(0)).map(_.toString), r.getDouble(1))
              -> r.getDouble(2)).toMap)
        val bad = for {
          (src, sorted) <- baseCounts.toSeq; q <- qs
          exp = expected(sorted, q)
          act = got.get((src, q))
          if !act.contains(exp)
        } yield s"$src/$q: expected $exp got $act"
        if (bad.nonEmpty || got.size != baseCounts.size * qs.size) {
          failures += 1
          println(s"[probe] FAIL quantiles: ${bad.take(3).mkString("; ")}")
        } else println(s"[probe] PASS quantiles: ${got.size} (source, q) " +
          "cells equal the driver-side xR ground truth exactly")
      }

      // x82: budget selection at 5M docs — replay the DEFINITION on the
      // scaled output: the selection must be an exact PREFIX of the
      // (priority DESC, id ASC) order (everything above the boundary
      // band in, the boundary tie group an id-prefix), within budget,
      // and maximal (the first unselected doc would cross it). This
      // exercises the two-level range-shard classification at a
      // corpus-sized distinct-priority relation.
      guarded("budget_prefix") {
        val prep = (df: DataFrame) => df
          .select(col("doc_id"),
            (expr("CAST(n_chars AS BIGINT) div 50") * 50).as("priority"),
            coalesce(col("n_chars").cast("long"), lit(0L)).as("tokens"))
          .filter(col("doc_id").isNotNull && col("priority").isNotNull)
        val baseTok = prep(bDocs).agg(sum("tokens")).head().getLong(0)
        val budget = (baseTok / 2) * rDocs // crossing well inside the corpus
        val corpus = prep(sDocs)
        val sel = timed("budget_prefix")(
          graft.ops.Sampling.budgetSelect(sDocs.withColumn("priority",
              expr("CAST(n_chars AS BIGINT) div 50") * 50),
            "doc_id", "priority",
            coalesce(col("n_chars").cast("long"), lit(0L)), budget)
            .persist())
        val st = sel.agg(sum("tokens").as("tot"), min("priority").as("pmin"),
          count(lit(1)).as("k")).head()
        val tot = st.getLong(0); val pmin = st.getLong(1)
        var bad = Seq.empty[String]
        if (tot > budget) bad :+= s"selected $tot tokens > budget $budget"
        val nAboveCorpus = corpus.filter(col("priority") > pmin).count()
        val nAboveSel = sel.filter(col("priority") > pmin).count()
        if (nAboveCorpus != nAboveSel)
          bad :+= s"above-boundary bands not fully selected " +
            s"($nAboveSel of $nAboveCorpus)"
        val selIds = sel.select(col("doc_id").as("__sid"))
        val unsel = corpus.join(selIds, col("doc_id") === col("__sid"),
          "left_anti").persist()
        val tieRow = unsel.filter(col("priority") === pmin)
          .agg(min("doc_id").as("minU"), count(lit(1)).as("nU")).head()
        if (tieRow.getLong(1) > 0L) {
          val maxSelTie = sel.filter(col("priority") === pmin)
            .agg(max("doc_id")).head().getLong(0)
          if (maxSelTie >= tieRow.getLong(0))
            bad :+= "boundary tie group is not an id-prefix"
        }
        val fu = unsel.orderBy(col("priority").desc, col("doc_id"))
          .limit(1).collect()
        fu.headOption.foreach { r =>
          val fuP = r.getAs[Long]("priority"); val fuT = r.getAs[Long]("tokens")
          if (fuP > pmin) bad :+= "an unselected doc outranks the boundary"
          else if (fuT <= 0L || tot + fuT <= budget)
            bad :+= s"selection not maximal: next doc ($fuT tokens) still fits"
        }
        unsel.unpersist(); sel.unpersist()
        if (bad.nonEmpty) {
          failures += 1
          println(s"[probe] FAIL budget_prefix: ${bad.mkString("; ")}")
        } else println(s"[probe] PASS budget_prefix: ${st.getLong(2)} docs, " +
          s"$tot of $budget tokens, exact prefix + maximality verified")
      }

      // ---------- search/LM family (VERDICT r17 item 3: the family's
      // first beyond-sf10 evidence). Exact-replication facts: per-doc tf
      // and dl are pure text functions (unchanged per replica); df and N
      // both scale xR; unigram/bigram probabilities are COUNT RATIOS, so
      // cnt_s/tot_s = (R·cnt_b)/(R·tot_b) is the identical exact
      // rational and IEEE's correctly-rounded division returns the
      // bit-identical double — per-doc NLL profiles must scale as exact
      // multisets. BM25's idf, by contrast, is NOT exactly R-invariant
      // ((N−df+0.5)/(df+0.5) — the +0.5 shifts), so the bm25 probes pin
      // the in-corpus exactness that IS guaranteed: stats xR, one score
      // per replica class, complete xR class blocks in the top-k. ----
      val baseMaxId = bDocs.agg(max(col("doc_id"))).head().getLong(0)
      val idOffset = baseMaxId + 1

      // x38 feed stats: per-query-term document frequency, N, Σdl — the
      // exact integers bm25's score derives from — all exactly xR
      guarded("search_df_stats") {
        val terms = Seq("hash", "join", "filter")
        def stats(df: DataFrame) = {
          val aggs = count(lit(1)).as("n") +: sum(size(col("__t"))).as("sumdl") +:
            terms.map(t => sum(array_contains(col("__t"), t).cast("long"))
              .as(s"df_$t"))
          df.select(graft.ops.TextOps.tokens(col("text")).as("__t"))
            .agg(aggs.head, aggs.tail: _*)
        }
        val b = stats(bDocs).head()
        val s = timed("search_df_stats")(stats(sDocs).head())
        val bad = (0 until b.length).filter(i =>
          s.getLong(i) != b.getLong(i) * rDocs)
        if (bad.nonEmpty) {
          failures += 1
          println(s"[probe] FAIL search_df_stats: fields $bad violate xR " +
            s"(base=$b scaled=$s)")
        } else println(s"[probe] PASS search_df_stats: N, sumdl, " +
          s"df(${terms.mkString(",")}) all exactly x$rDocs")
      }

      // x38 ranking at 5M docs: the scaled top-(k·R) must decompose into
      // complete xR replica blocks of score-pure classes (one distinct
      // 4dp score per base class; every class strictly above the
      // boundary score complete; deterministic (score desc, id)
      // tie-break fills exactly k·R rows)
      guarded("search_bm25_topk") {
        val k = 20
        val sTop = timed("search_bm25_topk")(
          graft.ops.Search.bm25(sDocs, "doc_id", "text", "hash join filter",
            k * rDocs.toInt).persist())
        val total = sTop.count()
        val classes = sTop
          .withColumn("__base", pmod(col("doc_id"), lit(idOffset)))
          .groupBy("__base")
          .agg(countDistinct(col("score")).as("nsc"), count(lit(1)).as("n"),
            max(col("score")).as("sc"))
          .persist()
        val impure = classes.filter(col("nsc") =!= 1).count()
        val minSc = sTop.agg(min(col("score"))).head().getDouble(0)
        val incomplete = classes
          .filter(col("sc") > minSc && col("n") =!= rDocs).count()
        classes.unpersist(); sTop.unpersist()
        if (total != k * rDocs || impure != 0 || incomplete != 0) {
          failures += 1
          println(s"[probe] FAIL search_bm25_topk: rows=$total " +
            s"(want ${k * rDocs}), $impure impure classes, " +
            s"$incomplete incomplete above-boundary classes")
        } else println(s"[probe] PASS search_bm25_topk: ${k * rDocs} rows, " +
          s"every class score-pure, above-boundary classes complete x$rDocs")
      }

      // x46: per-doc unigram NLL profile multiset exactly xR (bit-equal
      // doubles — the count-ratio argument above)
      guarded("search_unigram_nll") {
        def agg(df: DataFrame) = graft.ops.Search
          .unigramNll(df, "doc_id", "text")
          .groupBy("n_tokens", "nll").agg(count(lit(1)).as("n"))
        val a = agg(bDocs).withColumnRenamed("n", "n_b")
        val s = agg(sDocs).withColumnRenamed("n", "n_s").persist()
        timed("search_unigram_nll")(s.count())
        val bad = a.join(s, Seq("n_tokens", "nll"), "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rDocs).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL search_unigram_nll: $bad profiles violate xR")
        } else println(s"[probe] PASS search_unigram_nll: " +
          s"${a.count()} profiles, bit-identical doubles, exactly x$rDocs")
        s.unpersist()
      }

      // x53: per-doc bigram surprisal — same exact-ratio argument for
      // c(prev,cur)/c(prev); the sf10 replay's DuckDB-OOM ceiling does
      // not bind the invariant harness
      guarded("search_bigram_nll") {
        def agg(df: DataFrame) = graft.ops.Search
          .bigramNll(df, "doc_id", "text")
          .groupBy("n_bigrams", "nll").agg(count(lit(1)).as("n"))
        val a = agg(bDocs).withColumnRenamed("n", "n_b")
        val s = agg(sDocs).withColumnRenamed("n", "n_s").persist()
        timed("search_bigram_nll")(s.count())
        val bad = a.join(s, Seq("n_bigrams", "nll"), "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rDocs).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL search_bigram_nll: $bad profiles violate xR")
        } else println(s"[probe] PASS search_bigram_nll: " +
          s"${a.count()} profiles, bit-identical doubles, exactly x$rDocs")
        s.unpersist()
      }
    }

    // ---------- embeddings family (replicas are disjoint vec_id
    // populations with IDENTICAL vectors, so every pure-vector-function
    // operator's profile multiset scales exactly xR, and the weighted
    // collapse must land on replica 0's ids with mult exactly xR) -----
    if (haveEmb) {
      val bEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val sEmb = spark.read.parquet(s"$scaledDir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val rEmb = sEmb.count() / math.max(1L, bEmb.count())
      println(f"[probe] embeddings base=${bEmb.count()}%,d " +
        f"scaled=${sEmb.count()}%,d factor=$rEmb")

      // x42b: fixed-centroid assignment is a pure function of the vector
      // (bit-identical across replicas), so the (cluster, cohesion)
      // profile multiset scales EXACTLY xR — centroids pinned to the
      // base's first 4 vectors (x42b's recipe) so both sides assign
      // against the identical list
      guarded("emb_cluster_profiles") {
        val cents: Seq[Seq[Double]] = bEmb.filter(col("vec_id") < 4)
          .orderBy("vec_id").select(col("embedding"))
          .collect().map(_.getSeq[Double](0).toSeq).toSeq
        def agg(df: DataFrame) =
          graft.ops.Similarity.clusterAssignWith(df, "embedding", cents)
            .groupBy("cluster", "cohesion").agg(count(lit(1)).as("n"))
        val a = agg(bEmb).withColumnRenamed("n", "n_b")
        val s = agg(sEmb).withColumnRenamed("n", "n_s").persist()
        timed("emb_cluster_profiles")(s.count())
        val cond = a("cluster") <=> s("cluster") && a("cohesion") <=> s("cohesion")
        val bad = a.join(s, cond, "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rEmb).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL emb_cluster_profiles: $bad (cluster, " +
            s"cohesion) groups violate n_s == $rEmb*n_b")
        } else println(s"[probe] PASS emb_cluster_profiles: ${a.count()} " +
          s"distinct profiles, counts exactly x$rEmb")
        s.unpersist()
      }

      // x24: int8 quantization is a pure map — the (scale, quantized
      // vector) multiset scales exactly xR (the array keyed by xxhash64
      // so the compare exchange stays narrow)
      guarded("emb_quantize_profiles") {
        def agg(df: DataFrame) =
          graft.ops.Embeddings.quantizeInt8(df, "vec_id", "embedding")
            .groupBy(col("scale"), xxhash64(col("q")).as("qh"))
            .agg(count(lit(1)).as("n"))
        val a = agg(bEmb).withColumnRenamed("n", "n_b")
        val s = agg(sEmb).withColumnRenamed("n", "n_s").persist()
        timed("emb_quantize_profiles")(s.count())
        val cond = a("scale") <=> s("scale") && a("qh") <=> s("qh")
        val bad = a.join(s, cond, "full_outer")
          .filter(col("n_b").isNull || col("n_s").isNull ||
            col("n_s") =!= col("n_b") * rEmb).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL emb_quantize_profiles: $bad (scale, q) " +
            s"groups violate n_s == $rEmb*n_b")
        } else println(s"[probe] PASS emb_quantize_profiles: ${a.count()} " +
          s"distinct quantizations, counts exactly x$rEmb")
        s.unpersist()
      }

      // x93's collapse at scale: exact-duplicate vector classes must
      // land on replica 0's ids (keep-min-id) with mult EXACTLY xR the
      // base class size — one aggregation over the full scaled corpus
      guarded("embcos_weighted_collapse") {
        val a = graft.ops.Similarity.exactByVecWeighted(bEmb, "embedding",
          "vec_id").select(col("vec_id"), col("mult").as("m_b"))
        val s = graft.ops.Similarity.exactByVecWeighted(sEmb, "embedding",
          "vec_id").select(col("vec_id"), col("mult").as("m_s")).persist()
        timed("embcos_weighted_collapse")(s.count())
        val bad = a.join(s, Seq("vec_id"), "full_outer")
          .filter(col("m_b").isNull || col("m_s").isNull ||
            col("m_s") =!= col("m_b") * rEmb).count()
        if (bad != 0) {
          failures += 1
          println(s"[probe] FAIL embcos_weighted_collapse: $bad reps " +
            s"violate identity or mult == $rEmb*base")
        } else println(s"[probe] PASS embcos_weighted_collapse: " +
          s"${a.count()} reps identical to base, mult exactly x$rEmb")
        s.unpersist()
      }

      // x93's pair stage at scale: inject a perturbed copy of EVERY
      // scaled row (ids + 100M), so each base-vector class gains a
      // perturbed twin class. The weighted pair relation must be exactly
      // one row per rep — (rep, rep + 100M, cos ~ 1, xR, xR) — never a
      // quadratic expansion (the corpus has no natural pairs at 0.95;
      // x5's spike recipe measured max natural cos ~ 0.51)
      guarded("embcos_weighted_pairs") {
        val off = 100000000L
        val withDups = sEmb.unionByName(
          sEmb.select((col("vec_id") + off).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              x * (lit(1.0) + (i % 7).cast("double") / 1000)).as("embedding")))
        val nReps = graft.ops.Similarity.exactByVecWeighted(bEmb,
          "embedding", "vec_id").count()
        val pairs = graft.ops.Similarity.cosineNearDupPairsWeighted(
          withDups, "vec_id", "embedding", threshold = 0.95, dim = 64)
          .persist()
        timed("embcos_weighted_pairs")(pairs.count())
        val st = pairs.agg(count(lit(1)).as("k"),
          coalesce(sum(when(col("id_b") =!= col("id_a") + off, 1L)
            .otherwise(0L)), lit(0L)).as("badIds"),
          coalesce(sum(when(col("mult_a") =!= rEmb ||
            col("mult_b") =!= rEmb, 1L).otherwise(0L)), lit(0L)).as("badMult"),
          coalesce(min(col("cos")), lit(1.0)).as("cmin")).head()
        val ok = st.getLong(0) == nReps && st.getLong(1) == 0L &&
          st.getLong(2) == 0L && st.getDouble(3) >= 0.999
        if (!ok) {
          failures += 1
          println(s"[probe] FAIL embcos_weighted_pairs: k=${st.getLong(0)} " +
            s"(want $nReps) badIds=${st.getLong(1)} badMult=${st.getLong(2)} " +
            s"minCos=${st.getDouble(3)}")
        } else println(s"[probe] PASS embcos_weighted_pairs: exactly " +
          s"$nReps rep pairs, ids offset-exact, mults x$rEmb, cos >= 0.999 " +
          "— pair output CONSTANT in the duplication factor")
        pairs.unpersist()
      }
    }

    if (!haveEvents) {
      println(s"""{"probe":"docs_scale","scaled_dir":"$scaledDir",""" +
        s""""failures":$failures,"timings_sec":{${timings.map {
          case (k, v) => s""""$k":${f"$v%.1f"}""" }.mkString(",")}}}""")
      spark.stop()
      if (failures > 0) sys.exit(1)
      return
    }

    val base = rawEvents(baseDir)
    val scaled = rawEvents(scaledDir)
    val nBase = base.count()
    val nScaled = scaled.count()
    println(f"[probe] base events=$nBase%,d scaled events=$nScaled%,d factor=$factor")
    require(nScaled == nBase * factor,
      s"row-count replication broken: $nScaled != $nBase * $factor")

    /** Exact xR invariant: `agg` maps the operator output to (key cols,
      * long `n`). Checks every base key appears scaled with n_scaled ==
      * factor * n_base and no unmatched keys on either side. */
    def checkExact(name: String, keys: Seq[String],
                   agg: DataFrame => DataFrame): Unit = {
      val b = agg(base).withColumnRenamed("n", "n_b")
      val sAgg = agg(scaled).withColumnRenamed("n", "n_s").persist()
      try {
        timed(name)(sAgg.count()) // the timer covers materialization
        val joined = b.join(sAgg, keys, "full_outer")
        val bad = joined.filter(col("n_b").isNull || col("n_s").isNull ||
          col("n_s") =!= col("n_b") * factor)
        val nBad = bad.count()
        if (nBad != 0) {
          failures += 1
          println(s"[probe] FAIL $name: $nBad keys violate n_s == $factor*n_b")
          bad.show(5, truncate = false)
        } else {
          println(s"[probe] PASS $name: ${b.count()} keys, all exactly x$factor")
        }
      } finally sAgg.unpersist()
    }

    // probes ordered by shuffle footprint, biggest LAST — if the box
    // runs out of spill disk on the corpus-sized sessionize exchange,
    // the map-side-collapsing probes have already reported

    // 1. retention (daily cohorts, 7 offsets): every cell scales exactly
    guarded("retention")(checkExact("retention", Seq("cohort", "offset"),
      ev => EventStreams.retention(ev, periodSeconds = 86400L, maxOffset = 7)
        .select(col("cohort"), col("offset"), col("n_users").as("n"))))

    // 2. funnel signup->click->purchase: per-profile counts scale exactly
    guarded("funnel")(checkExact("funnel",
      Seq("ts_1", "ts_2", "ts_3", "steps_completed"),
      ev => EventStreams.funnel(ev, "user_id", Seq("signup", "click", "purchase"))
        .groupBy("ts_1", "ts_2", "ts_3", "steps_completed")
        .agg(count(lit(1)).as("n"))))

    // 3. tumbling windowed counts: n_events exact, total_value to 1e-2*R
    guarded("windowed_counts") {
      def agg(ev: DataFrame) = ev
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("v"))
      val b = agg(base).withColumnRenamed("n", "n_b").withColumnRenamed("v", "v_b")
      val sAgg = agg(scaled).withColumnRenamed("n", "n_s")
        .withColumnRenamed("v", "v_s").persist()
      timed("windowed_counts")(sAgg.count())
      val joined = b.join(sAgg, Seq("window_start", "event_type"), "full_outer")
      val bad = joined.filter(col("n_b").isNull || col("n_s").isNull ||
        col("n_s") =!= col("n_b") * factor ||
        abs(col("v_s") - col("v_b") * factor) > lit(0.01) * col("n_s"))
      val nBad = bad.count()
      if (nBad != 0) {
        failures += 1
        println(s"[probe] FAIL windowed_counts: $nBad keys violate x$factor")
        bad.show(5, truncate = false)
      } else println(s"[probe] PASS windowed_counts: ${b.count()} keys")
      sAgg.unpersist()
    }

    // 4. rate anomaly (hourly, trailing 5): counts exact xR, z and the
    // anomaly flag scale-invariant (z to 1e-3 — both sides round to 4dp;
    // flag compared only off the |z|~threshold knife edge)
    guarded("rate_anomaly") {
      def run(ev: DataFrame) = EventStreams.rateAnomaly(
        ev, windowLength = "1 hour", trailing = 5, zThreshold = 3.0)
      val b = run(base).select(col("window_start"), col("event_type"),
        col("n_events").as("n_b"), col("z").as("z_b"),
        col("anomaly").as("a_b"))
      val sRes = run(scaled).select(
        col("window_start"), col("event_type"), col("n_events").as("n_s"),
        col("z").as("z_s"), col("anomaly").as("a_s")).persist()
      val nSpineS = timed("rate_anomaly")(sRes.count())
      val nSpineB = b.count()
      val joined = b.join(sRes, Seq("window_start", "event_type"), "full_outer")
      val zBad = joined.filter(col("n_b").isNull || col("n_s").isNull ||
        col("n_s") =!= col("n_b") * factor ||
        (col("z_b").isNull =!= col("z_s").isNull) ||
        (col("z_b").isNotNull && abs(col("z_s") - col("z_b")) > 1e-3))
      val flagBad = joined.filter(col("z_b").isNotNull &&
        abs(abs(col("z_b")) - 3.0) > 0.01 && (col("a_b") =!= col("a_s")))
      val nz = zBad.count(); val nf = flagBad.count()
      if (nSpineB != nSpineS || nz != 0 || nf != 0) {
        failures += 1
        println(s"[probe] FAIL rate_anomaly: spine $nSpineB vs $nSpineS, " +
          s"$nz count/z violations, $nf off-edge flag flips")
        zBad.show(5, truncate = false)
      } else println(s"[probe] PASS rate_anomaly: spine $nSpineS rows " +
        s"identical, counts x$factor, z scale-invariant to 1e-3")
      sRes.unpersist()
    }

    // 5b. the auto-strategy skew verdict alone (cheap: one sampled scan
    // + a two-level aggregate) — prints which strategy sessionizeBatch's
    // auto tier takes on this corpus, with the measured numbers, so the
    // billion-row strategy choice is pinned in the probe log
    guarded("skewcheck") {
      val ev = rawEvents(scaledDir)
      val est = graft.ops.Similarity.approxRows(ev, rowBytes = 64L,
        unknownAs = Long.MaxValue)
      val t0 = System.nanoTime()
      val uniform = EventStreams.measuredUniformKeys(ev, est)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] skewcheck: estRows=$est%,d verdict=" +
        s"${if (uniform) "windowed" else "segmented"} " +
        f"(measured in $dt%.1f s; layout tier not consulted here)")
    }

    // 5. sessionize (gap 6h): session-profile multiset scales exactly.
    // The ONLY corpus-sized exchange in the probe set — runs last.
    guarded("sessionize")(checkExact("sessionize",
      Seq("session_start", "session_end", "n_events"),
      ev => EventStreams.sessionizeBatch(ev, gapSeconds = 21600)
        .groupBy("session_start", "session_end", "n_events")
        .agg(count(lit(1)).as("n"))))

    // 5c. the SEGMENTED strategy forced (autoNative=false) — on a
    // uniform corpus the auto tier takes the windowed form, so this
    // variant is what actually exercises the carry's chain emission at
    // the billion-row rung
    guarded("sessionize_segmented")(checkExact("sessionize_segmented",
      Seq("session_start", "session_end", "n_events"),
      ev => EventStreams.sessionizeBatch(ev, gapSeconds = 21600,
          autoNative = false)
        .groupBy("session_start", "session_end", "n_events")
        .agg(count(lit(1)).as("n"))))

    val tj = timings.map { case (k, v) => s""""$k":${f"$v%.1f"}""" }
      .mkString(",")
    println(s"""{"probe":"events_scale","scaled_dir":"$scaledDir",""" +
      s""""factor":$factor,"events":$nScaled,"failures":$failures,""" +
      s""""timings_sec":{$tj}}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
