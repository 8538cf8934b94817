package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Persistable Bloom-exclusion artifact — the [[IvfIndex]] pattern
  * applied to [[Dedup.excludeByBloom]]'s sketch.
  *
  * The Bloom build is the per-refresh cost of id exclusion: one full
  * aggregation job over the exclusion list (10^9-id lists are normal for
  * a "never re-train on these" ledger), re-paid by every session that
  * excludes against it. This artifact persists the built sketch:
  *
  *   - `<path>/bloom[-g]/sketch.bin` — the serialized `BloomFilter`
  *     bytes as a raw file (Spark's own writeTo format; bit-array
  *     OR-merge makes the build order-independent, so the bytes are
  *     deterministic for a given list + parameters). Written and read
  *     via the filesystem API — the bytes are driver-held on both
  *     sides, so no Spark action is spent moving them. Format-1
  *     artifacts (a one-row parquet sketch) fail to load with a version
  *     mismatch; rebuild them.
  *   - `<path>/manifest.json` — format version + build parameters
  *     (n_items estimate, fpp, byte length as an integrity check), the
  *     id column's NAME and TYPE (a sketch probed through a different
  *     column or type silently under-deletes — the consumer validates
  *     both for free), and an order-independent CONTENT fingerprint of
  *     the id list (exact decimal sum of xxhash64(id) — append, remove
  *     and replace all move it, unlike a bit-xor where a same-count
  *     pair swap can cancel; the count tripwire alone cannot see a
  *     same-size swap). Written via the Hadoop FileSystem API (any
  *     Spark-reachable filesystem).
  *
  * The artifact is sketch-only by design: the exact exclusion ids stay
  * wherever the pipeline already keeps them (they are still needed for
  * the false-positive rescue anti-join — see
  * [[Dedup.excludeByBloomWith]]), while the aggregation over them is the
  * part worth persisting. Loading is O(bytes) driver memory — the same
  * bound the inline build already carries before broadcast.
  *
  * Consumers: `Dedup.excludeByBloomWith` takes the loaded bytes
  * directly, and the xop surface takes an `index` argument on
  * `exclude_ids` (resolved under `spark.graft.index.root`, like the IVF
  * artifact). The count/name/type tripwires are FREE and always checked
  * there; [[verifyContent]] recomputes the fingerprint (one
  * column-pruned aggregation job over the list) for explicit integrity
  * checks — the xop `verify_index` flag runs it per query for callers
  * who want the strong guarantee over the cheap one.
  */
object BloomIndex {

  /** Thrown by [[update]] when the delta would push the sketch past the
    * certified `maxFppFactor` bound. A DEDICATED type (still an
    * IllegalArgumentException, so every existing catch and the xop 400
    * taxonomy are unchanged) because [[updateOrRebuild]] dispatches its
    * rebuild fallback on it — matching on the message text was brittle:
    * a reworded guard, or an unrelated future IAE containing the word,
    * would silently change which failures rebuild versus propagate. */
  final class SketchOutgrownException(message: String)
    extends IllegalArgumentException(message)

  /** 2: the sketch is a raw `sketch.bin`; format 1 stored a one-row
    * parquet relation and no longer loads. */
  val FormatVersion = 2

  private val Kind = ArtifactLock.ArtifactKind(
    "bloom_exclusion", "bloom", "a bloom exclusion")

  /** Order-independent content fingerprint of `df`'s id list: the exact
    * decimal sum of xxhash64 over the raw (non-distinct) column — one
    * column-pruned aggregation, safe at any list size (10^9 ids × the
    * 64-bit hash range stays ~28 digits, far inside decimal(38)).
    * Deterministic across partitionings and runs (xxhash64's seed is
    * fixed). Null ids contribute 0 — they never enter the sketch
    * (Spark's bloomFilter aggregate skips nulls), so they must not move
    * the fingerprint either; xxhash64(null) alone would return the
    * seed (42) and make an all-null list fingerprint as 42·n. Empty or
    * all-null list → "0". */
  def fingerprint(df: DataFrame, idCol: String): String =
    fingerprintAndCount(df, idCol)._1

  /** Marker for the CURRENT fingerprint formula, recorded in the
    * manifest: "zero" = null ids contribute 0. Artifacts whose manifest
    * lacks the marker predate the null-neutral change (their formula
    * folded xxhash64's seed per null row); the two formulas agree on any
    * null-free list, so verification of such artifacts proceeds normally
    * unless the current list actually contains nulls — then it demands a
    * rebuild with a precise error instead of a misleading "stale". */
  val FingerprintNullsZero = "zero"

  /** [[fingerprint]], the exact list row count, and the null-id count,
    * all from the SAME aggregation pass. */
  private def fingerprintAndCount(df: DataFrame, idCol: String): (String, Long, Long) = {
    val row = df.agg(
      sum(when(col(idCol).isNotNull, xxhash64(col(idCol))).otherwise(lit(0L))
        .cast("decimal(38,0)")).as("fp"),
      count(lit(1)).as("n"),
      count(when(col(idCol).isNull, lit(1))).as("n_null")).head()
    (Option(row.getDecimal(0)).map(d => BigDecimal(d).toBigInt.toString)
      .getOrElse("0"), row.getLong(1), row.getLong(2))
  }

  /** Build the sketch over `exclude`'s id column (the same build
    * [[Dedup.excludeByBloom]] runs inline) and persist it at `path`.
    * The manifest's row count, null count and content fingerprint ride
    * the sketch-building aggregation as observed metrics (same
    * expressions as [[fingerprintAndCount]], one evaluation per row),
    * so the build scans the exclusion list exactly once instead of
    * paying a second pass. Returns the serialized bytes. */
  def buildAndSave(exclude: DataFrame, idCol: String, fpp: Double,
                   path: String): Array[Byte] =
      ArtifactLock.withWriteLock(path) {
    val nItems = Dedup.bloomSizing(exclude)
    val obs = org.apache.spark.sql.Observation()
    val observed = exclude.observe(obs,
      sum(when(col(idCol).isNotNull, xxhash64(col(idCol))).otherwise(lit(0L))
        .cast("decimal(38,0)")).as("fp"),
      count(lit(1)).as("n"),
      count(when(col(idCol).isNull, lit(1))).as("n_null"))
    val bytes = Dedup.buildBloomSized(observed, idCol, nItems, fpp)
    val m = obs.get
    val (fp, n, nNull) = (Observed.decimalSum(m, "fp").toString,
      Observed.long(m, "n"), Observed.long(m, "n_null"))
    save(exclude.sparkSession, path, bytes, fpp = fpp,
      nIds = Some(n),
      idCol = Some(idCol),
      idType = Some(exclude.schema(idCol).dataType.catalogString),
      contentFingerprint = Some(fp),
      nItemsBuilt = Some(nItems),
      nInserted = Some(n - nNull),
      nHashFunctions = Some(numHashFunctions(nItems, fpp).toLong))
    bytes
  }

  /** The sketch library's own hash-function sizing
    * (BloomFilterBase.optimalNumOfHashFunctions — private there,
    * reproduced verbatim and pinned against the library's actual field
    * by reflection in the spec): k = max(1, round(m/n·ln2)) computed
    * from the PRE-ROUNDING optimal bit count, not from bitSize(),
    * which rounds m up to a multiple of 64 and near a .5 boundary
    * reconstructs a k off by one — skewing the update path's fpp
    * honesty guard. Recorded in the manifest at build time so the
    * estimate never reconstructs. */
  private[graft] def numHashFunctions(nItems: Long, fpp: Double): Int = {
    val m = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(nItems, fpp)
    math.max(1, math.round(m.toDouble / nItems * math.log(2)).toInt)
  }

  /** Loaded artifact: the sketch bytes plus whatever build metadata the
    * artifact recorded (all optional — hand-built manifests may omit
    * them; every recorded field is validated at use time). `fpp` /
    * `nItemsBuilt` are the sketch's BUILD parameters (together they
    * determine the bit-array shape — [[update]] needs both);
    * `nInserted` counts every non-null id ever hashed INTO the sketch,
    * monotone under updates (removals leave bits set), the load the
    * false-positive estimate is computed from. */
  final case class Artifact(bytes: Array[Byte], nIds: Option[Long],
                            idCol: Option[String] = None,
                            idType: Option[String] = None,
                            contentFingerprint: Option[String] = None,
                            fingerprintNulls: Option[String] = None,
                            fpp: Option[Double] = None,
                            nItemsBuilt: Option[Long] = None,
                            nInserted: Option[Long] = None,
                            nHashFunctions: Option[Long] = None)

  /** Persist already-built sketch bytes at `path` (overwrite). */
  def save(spark: SparkSession, path: String, bytes: Array[Byte],
           fpp: Double, nIds: Option[Long] = None,
           idCol: Option[String] = None, idType: Option[String] = None,
           contentFingerprint: Option[String] = None,
           nItemsBuilt: Option[Long] = None,
           nInserted: Option[Long] = None,
           fppEstimate: Option[Double] = None,
           nHashFunctions: Option[Long] = None): Unit =
      ArtifactLock.withWriteLock(path) {
    require(bytes.nonEmpty, "bloom bytes must be non-empty")
    // generationed sketch dir (the vocab pattern): write the NEXT
    // generation's dir, repoint the manifest atomically, prune older —
    // an in-place Overwrite raced unlocked readers with missing files.
    // The sketch bytes are DRIVER-HELD, so they go down as a raw file
    // ([[ArtifactLock.writeBytesFile]]) instead of the former 1-row
    // parquet write ACTION — one fewer ~300 ms fixed-cost Spark job per
    // save at any scale.
    val newGen: Long =
      ArtifactLock.currentDataGen(spark, path).map(_ + 1L).getOrElse(0L)
    ArtifactLock.writeBytesFile(spark,
      s"$path/${ArtifactLock.genDirName("bloom", newGen)}", "sketch.bin", bytes)
    val manifest = mutable.LinkedHashMap[String, Any](
      "version" -> FormatVersion,
      "kind" -> Kind.tag,
      "fpp" -> fpp,
      "data_gen" -> newGen,
      "n_bytes" -> bytes.length.toLong) ++
      nIds.map("n_ids" -> _.asInstanceOf[Any]) ++
      idCol.map("id_col" -> _.asInstanceOf[Any]) ++
      idType.map("id_type" -> _.asInstanceOf[Any]) ++
      contentFingerprint.map("fingerprint" -> _.asInstanceOf[Any]) ++
      contentFingerprint.map(_ =>
        "fingerprint_nulls" -> FingerprintNullsZero.asInstanceOf[Any]) ++
      nItemsBuilt.map("n_items_built" -> _.asInstanceOf[Any]) ++
      nInserted.map("n_inserted" -> _.asInstanceOf[Any]) ++
      nHashFunctions.map("n_hash_functions" -> _.asInstanceOf[Any]) ++
      fppEstimate.map("fpp_estimate" -> _.asInstanceOf[Any])
    // temp + atomic rename: an unlocked reader must never see a
    // truncated manifest (ArtifactLock.publishManifest)
    ArtifactLock.publishManifest(spark, path,
      graft.engine.QueryJson.write(manifest))
    ArtifactLock.pruneGenerations(spark, path, Seq("bloom"), newGen)
  }

  /** Load a persisted sketch. Fails fast (IllegalArgumentException) on a
    * missing/foreign/corrupt artifact. */
  def load(spark: SparkSession, path: String): Array[Byte] =
    loadWithMeta(spark, path).bytes

  /** Load a persisted sketch with its manifest metadata. Every failure
    * mode — missing, foreign, stale-format or corrupt artifact,
    * unparsable manifest, missing sketch file — surfaces as
    * IllegalArgumentException (the
    * documented fail-fast contract; raw parse/read exceptions are
    * wrapped so direct-API consumers can catch one type). A load racing
    * concurrent saves is retried bounded ([[ArtifactLock.retryingLoad]]
    * — re-resolves the manifest on a pruned-generation read failure). */
  def loadWithMeta(spark: SparkSession, path: String): Artifact =
    ArtifactLock.retryingLoad(loadWithMetaOnce(spark, path))

  private def loadWithMetaOnce(spark: SparkSession, path: String): Artifact = {
    val manifest = ArtifactLock.readManifest(spark, path, Kind, FormatVersion)
    val bytes = ArtifactLock.readBytesFile(spark,
      s"$path/${ArtifactLock.genDirName("bloom", manifest.dataGen)}/sketch.bin",
      s"bloom index at $path is corrupt: unreadable sketch")
    if (!manifest.get("n_bytes").contains(bytes.length.toLong))
      throw new IllegalArgumentException(
        s"bloom index at $path is corrupt: byte length disagrees with manifest")
    Artifact(bytes,
      manifest.get("n_ids").collect { case l: Long => l },
      manifest.get("id_col").collect { case s: String => s },
      manifest.get("id_type").collect { case s: String => s },
      manifest.get("fingerprint").collect { case s: String => s },
      manifest.get("fingerprint_nulls").collect { case s: String => s },
      manifest.get("fpp").collect { case d: Double => d },
      manifest.get("n_items_built").collect { case l: Long => l },
      manifest.get("n_inserted").collect { case l: Long => l },
      manifest.get("n_hash_functions").collect { case l: Long => l })
  }

  /** STRONG staleness check: recompute the content fingerprint of the
    * current `exclude` list and compare with the manifest's — detects
    * the same-count different-content swap the free count tripwire
    * cannot. One column-pruned aggregation job over the list (so NOT on
    * the default query path — opt in per query via the xop
    * `verify_index` flag, or call this after a ledger refresh).
    * IllegalArgumentException on mismatch or when the artifact predates
    * fingerprints. */
  def verifyContent(spark: SparkSession, path: String,
                    exclude: DataFrame, idCol: String): Unit =
    verifyContent(loadWithMeta(spark, path), s"bloom index at $path",
      exclude, idCol)

  /** [[verifyContent]] against an ALREADY-loaded artifact — consumers
    * that just called [[loadWithMeta]] (the xop path) skip the second
    * manifest+sketch read. `what` names the artifact in errors. */
  def verifyContent(art: Artifact, what: String,
                    exclude: DataFrame, idCol: String): Unit = {
    val recorded = art.contentFingerprint.getOrElse(
      throw new IllegalArgumentException(
        s"$what records no content fingerprint " +
          "(pre-fingerprint artifact) — rebuild it to enable verification"))
    val (current, _, nNull) = fingerprintAndCount(exclude, idCol)
    // formula-generation guard: an artifact without the nulls marker was
    // fingerprinted under the old formula (seed folded per null row).
    // Both formulas agree on null-free lists, so verification proceeds
    // there; with nulls present the comparison would be apples-to-
    // oranges — demand a rebuild with the real reason, not "stale"
    if (art.fingerprintNulls.isEmpty && nNull > 0)
      throw new IllegalArgumentException(
        s"$what predates the null-neutral fingerprint formula and the " +
          s"exclude list contains $nNull null ids — rebuild the artifact " +
          "to verify it")
    if (current != recorded)
      throw new IllegalArgumentException(
        s"$what is stale: exclude list content changed " +
          s"(fingerprint $current, artifact built over $recorded) — " +
          "rebuild the artifact")
  }

  /** INCREMENTAL sketch maintenance — the [[MinHashIndex.update]]
    * pattern applied to the exclusion ledger. A 10^9-id ledger that
    * gained a day's worth of ids should pay one aggregation over the
    * DAY, not the ledger; the caller supplies the delta (a ledger is
    * append-mostly and its owner knows its appends; [[Dedup.corpusDiff]]
    * over the id column computes one otherwise).
    *
    * `added` ids are hashed into the sketch at the BASE artifact's exact
    * (expectedNumItems, fpp) sizing — same bit-array shape, so the
    * OR-merge is bit-identical to hashing the union at that sizing
    * (pinned in spec). `removed` ids CANNOT leave a Bloom filter; their
    * bits stay set, which is SAFE for the exclusion operator — a stale
    * positive probe is rescued by [[Dedup.excludeByBloomWith]]'s exact
    * anti-join, so removals cost over-probing, never over-deletion. The
    * manifest's count and content fingerprint are delta-updated exactly
    * (the decimal sum: add arriving hashes, subtract departing), so the
    * free staleness tripwires and [[verifyContent]] keep tracking the
    * CURRENT ledger, not the sketch's monotone history.
    *
    * Honesty guard: every update recomputes the sketch's estimated
    * false-positive rate from its cumulative insert load
    * ((1 − e^(−k·n/m))^k with n = n_inserted, an upper bound since
    * duplicates count), records it in the manifest, and REFUSES to grow
    * a sketch past `maxFppFactor` × the built fpp — the explicit
    * rebuild trigger that keeps "incremental" from silently decaying
    * into "useless" (at 4× the default, every probe-positive still
    * short-circuits ~97% of the rescue join at fpp=0.01).
    *
    * Preconditions: `removed` rows must be exactly the rows that LEFT
    * the ledger (same multiplicity — the fingerprint is a sum over raw
    * rows; a removal count exceeding the recorded ledger size fails
    * fast as an obviously-wrong delta); the artifact must record its
    * build sizing (n_items_built; artifacts from before incremental
    * maintenance need one rebuild) and use the null-neutral fingerprint
    * formula. An empty delta returns the loaded artifact without
    * writing. Like the MinHash swap, the rewrite assumes a
    * single-writer refresh window: nothing should load the artifact
    * mid-update. */
  def update(spark: SparkSession, path: String,
             added: DataFrame, addedIdCol: String,
             removed: Option[(DataFrame, String)] = None,
             maxFppFactor: Double = 4.0): Artifact =
      ArtifactLock.withWriteLock(path) {
    val art = loadWithMeta(spark, path)
    val what = s"bloom index at $path"
    def need[A](o: Option[A], field: String): A = o.getOrElse(
      throw new IllegalArgumentException(
        s"$what records no $field — rebuild it once with buildAndSave " +
          "to enable incremental updates"))
    val fpp = need(art.fpp, "fpp")
    val nItemsBuilt = need(art.nItemsBuilt, "n_items_built")
    val nInserted = need(art.nInserted, "n_inserted")
    val oldFp = BigInt(need(art.contentFingerprint, "content fingerprint"))
    val oldN = need(art.nIds, "n_ids")
    if (art.fingerprintNulls.isEmpty)
      throw new IllegalArgumentException(
        s"$what predates the null-neutral fingerprint formula — rebuild it once")
    // same identity tripwires the probe path enforces: a delta hashed
    // through a different column name or type would silently diverge
    // from the ledger the sketch claims to cover
    def checkSide(df: DataFrame, c: String, side: String): Unit = {
      Dedup.requireIntegralId(df, c, s"$side id")
      for (built <- art.idCol if built != c)
        throw new IllegalArgumentException(
          s"$what was built over column '$built', $side uses '$c'")
      for (built <- art.idType;
           now = df.schema(c).dataType.catalogString if built != now)
        throw new IllegalArgumentException(
          s"$what was built over $built ids, $side column '$c' is $now")
    }
    checkSide(added, addedIdCol, "added")
    removed.foreach { case (df, c) => checkSide(df, c, "removed") }
    // the added side's fingerprint/counts ride the added-side sketch
    // build as observed metrics (the buildAndSave discipline): one scan
    // of the delta instead of a fingerprint aggregation PLUS a sketch
    // aggregation. The sketch is built unconditionally — an empty or
    // all-null delta builds an empty filter whose merge is a no-op, at
    // the same one-action cost the standalone fingerprint pass used to
    // spend.
    val addObs = org.apache.spark.sql.Observation()
    val observedAdded = added.observe(addObs,
      sum(when(col(addedIdCol).isNotNull, xxhash64(col(addedIdCol)))
        .otherwise(lit(0L)).cast("decimal(38,0)")).as("fp"),
      count(lit(1)).as("n"),
      count(when(col(addedIdCol).isNull, lit(1))).as("n_null"))
    val addedSketch =
      Dedup.buildBloomSized(observedAdded, addedIdCol, nItemsBuilt, fpp)
    val mAdd = addObs.get
    val (addFp, nAdd, nAddNull) = (Observed.decimalSum(mAdd, "fp").toString,
      Observed.long(mAdd, "n"), Observed.long(mAdd, "n_null"))
    val (remFp, nRem, _) = removed.map { case (df, c) =>
      fingerprintAndCount(df, c) }.getOrElse(("0", 0L, 0L))
    if (nAdd == 0L && nRem == 0L) return art
    if (oldN + nAdd - nRem < 0L)
      throw new IllegalArgumentException(
        s"$what: removal of $nRem rows exceeds the ledger the artifact " +
          s"records ($oldN + $nAdd added) — the delta does not describe " +
          "this ledger; rebuild instead")
    val newInserted = nInserted + (nAdd - nAddNull)
    // estimated fpp at the new load: k from the manifest when the build
    // recorded it (exact), else recomputed with the library's own
    // pre-rounding formula — never reconstructed from bitSize(), whose
    // round-up to a 64-bit-word multiple puts k off by one near a .5
    // boundary; m IS the actual bit array length (the real geometry)
    val base = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(art.bytes))
    val m = base.bitSize().toDouble
    val k = art.nHashFunctions
      .getOrElse(numHashFunctions(nItemsBuilt, fpp).toLong).toDouble
    val est = math.pow(1.0 - math.exp(-k * newInserted / m), k)
    if (est > maxFppFactor * fpp)
      throw new SketchOutgrownException(
        f"$what has outgrown its sketch: estimated false-positive rate " +
          f"$est%.2g at ${newInserted} inserted ids exceeds $maxFppFactor%.1f× " +
          f"the built fpp=$fpp%.2g — rebuild the artifact at the new scale")
    base.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(addedSketch)))
    val bos = new java.io.ByteArrayOutputStream()
    base.writeTo(bos)
    save(spark, path, bos.toByteArray, fpp = fpp,
      nIds = Some(oldN + nAdd - nRem),
      idCol = art.idCol.orElse(Some(addedIdCol)),
      idType = art.idType.orElse(
        Some(added.schema(addedIdCol).dataType.catalogString)),
      contentFingerprint = Some((oldFp + BigInt(addFp) - BigInt(remFp)).toString),
      nItemsBuilt = Some(nItemsBuilt),
      nInserted = Some(newInserted),
      fppEstimate = Some(est),
      nHashFunctions = Some(art.nHashFunctions.getOrElse(
        numHashFunctions(nItemsBuilt, fpp).toLong)))
    loadWithMeta(spark, path)
  }

  /** [[update]] with the production fallback wired in: when the delta
    * would outgrow the sketch (the certified `maxFppFactor` refusal),
    * rebuild from the CURRENT ledger at the new scale instead of
    * throwing — the exclusion operator always requires the exact ledger
    * anyway, so the rebuild input is already at hand. `ledger` must be
    * the post-delta exclusion list (current ids, additions applied,
    * removals dropped); on the rebuild path the sketch is re-sized and
    * re-hashed from it with the original build's `fpp` (or `rebuildFpp`
    * when given), exactly as [[buildAndSave]] would. Returns the loaded
    * artifact either way; `wasRebuilt` distinguishes the paths for the
    * caller's refresh log. */
  def updateOrRebuild(spark: SparkSession, path: String,
                      added: DataFrame, addedIdCol: String,
                      ledger: DataFrame, ledgerIdCol: String,
                      removed: Option[(DataFrame, String)] = None,
                      maxFppFactor: Double = 4.0,
                      rebuildFpp: Option[Double] = None):
      (Artifact, Boolean) = ArtifactLock.withWriteLock(path) {
    // the lock spans the try-update AND the fallback rebuild: an
    // interleaved writer between them could otherwise make the rebuild
    // clobber state the other writer just published
    try (update(spark, path, added, addedIdCol, removed, maxFppFactor), false)
    catch {
      case _: SketchOutgrownException =>
        val fpp = rebuildFpp.orElse(
          loadWithMeta(spark, path).fpp).getOrElse(0.01)
        buildAndSave(ledger, ledgerIdCol, fpp, path)
        (loadWithMeta(spark, path), true)
    }
  }
}
