package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops._

/** Unit tests for the large-scale pipeline operators (dedup, similarity,
  * text analysis, multimodal plumbing). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------- text analysis -------------------------

  test("repetitionSignals: Gopher line/gram repetition metrics per doc") {
    val docs = Seq(
      // 4 non-blank lines (2 distinct, equal char mass): both line
      // fractions 0.5; best 2-gram ties at count 2 / len 5 → "aa bb"
      // lexicographically; all 5-grams distinct → dup5 = 0
      (1L, "aa bb\naa bb\ncc dd ee\n\n  \ncc dd ee"),
      // alternating tokens: best 2-gram "x y"×5 (15 of 19 chars);
      // overlapping duplicated 5-grams blow past the corpus length →
      // capped at 1.0
      (2L, "x y x y x y x y x y"),
      (3L, null.asInstanceOf[String]),
      (4L, "solo")
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1L, 4L, 0.5, 0.5, 0.344828, 0.0),
      (2L, 1L, 0.0, 0.0, 0.789474, 1.0),
      (3L, 0L, 0.0, 0.0, 0.0, 0.0),
      (4L, 1L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("tokenCount and normalization") {
    val df = Seq((1L, "  The  quick   brown fox "), (2L, ""), (3L, "one")).toDF("id", "text")
    val got = df.select(col("id"), TextOps.tokenCount(col("text")).as("n"))
      .orderBy("id").collect().map(_.getInt(1)).toSeq
    assert(got == Seq(4, 0, 1))
  }

  test("bpe-ish token count splits long words and symbols") {
    val df = Seq((1L, "internationalization 42!")).toDF("id", "text")
    // internationalization → 5 pieces of ≤4 chars, "4","2" digits, "!" symbol
    val got = df.select(TextOps.bpeTokenCount(col("text"))).collect().head.getInt(0)
    assert(got == 5 + 2 + 1)
  }

  test("langId picks the stopword-dominant language deterministically") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is happy"),
      (2L, "el gato es grande y la casa es de madera"),
      (3L, "zzz qqq www")).toDF("id", "text")
    val got = df.select(col("id"), TextOps.langId(col("text")).as("lang"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(got == Seq("en", "es", "und"))
  }

  test("quality features are bounded and sane") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val row = TextOps.qualityFeatures(df, "text").collect().head
    val score = row.getAs[Double]("quality_score")
    assert(score >= 0.0 && score <= 1.0)
    assert(row.getAs[Long]("n_tokens") == 9L)
    assert(row.getAs[Double]("punct_ratio") == 0.0)
    assert(row.getAs[Double]("stopword_ratio") > 0.2) // "the" twice + "over"... of 9
  }

  test("fingerprints: md5 ignores case/whitespace, rolling hash is order-sensitive") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "world hello")).toDF("id", "text")
    val fp = df.select(col("id"), TextOps.fingerprintMd5(col("text")).as("m"),
      TextOps.fingerprintRolling(col("text")).as("r")).orderBy("id").collect()
    assert(fp(0).getString(1) == fp(1).getString(1)) // normalization collision
    assert(fp(0).getString(1) != fp(2).getString(1))
    assert(fp(0).getLong(2) == fp(1).getLong(2))
    assert(fp(0).getLong(2) != fp(2).getLong(2)) // order-sensitive
  }

  // ------------------------- dedup -------------------------

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "THE QUICK  brown fox jumps over the lazy dog again and again today"), // exact dup after norm
    (3L, "the quick brown fox jumps over the lazy cat again and again today"), // near dup (1 token)
    (4L, "completely different content about spark query engines and columnar scans"),
    (5L, "another unrelated short text")).toDF("doc_id", "text")

  test("exactByText keeps the lowest id per normalized text") {
    val kept = Dedup.exactByText(docs, "text", "doc_id")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L))
  }

  test("minhashPairs finds exact and near duplicates, not unrelated docs") {
    // 32 bands × 2 rows: candidate recall ~1.0 at J≈0.57 (the 1↔3 pair)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.35, shingleSize = 3)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L))) // exact dup: est_jaccard = 1
    assert(got.contains((1L, 3L)) || got.contains((2L, 3L))) // near dup
    assert(!got.exists { case (a, b) => b == 4L || b == 5L || a == 4L })
    val exact = pairs.filter(col("id_a") === 1 && col("id_b") === 2)
      .select("est_jaccard").collect().head.getDouble(0)
    assert(exact == 1.0)
  }

  test("simhash banding is COMPLETE at the pigeonhole threshold (banded == exhaustive)") {
    // 4 bands x 16 bits: hamming <= 3 cannot change all 4 bands, so the
    // banded candidate set must contain every qualifying pair. Spiked
    // with exact copies so the pair set is provably non-empty (the x3b
    // anchor runs this same equality through the oracle gate).
    val spiked = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = pairs(Dedup.simhashPairs(spiked, "doc_id", "text", maxHamming = 3))
    val exhaustive = pairs(Dedup.simhashPairsExhaustive(spiked, "doc_id", "text",
      maxId = Long.MaxValue, maxHamming = 3))
    assert(exhaustive.nonEmpty) // exact copies give hamming-0 pairs
    assert(banded == exhaustive)
  }

  test("minhashPairsBandExhaustive equals shingleJaccardPairsExact on the slice") {
    // band width 1 + exact verify must reproduce the all-pairs ground
    // truth row-for-row (the x2b anchor's contract) — jaccard values
    // included, since both use the same fused shingle-hash arithmetic
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = rows(Dedup.shingleJaccardPairsExact(docs, "doc_id", "text",
      maxId = 100, threshold = 0.5))
    val banded = rows(Dedup.minhashPairsBandExhaustive(docs, "doc_id", "text",
      maxId = 100, threshold = 0.5))
    assert(exact.nonEmpty) // fixture has a true >= 0.5 pair (1,2) and (1,3)
    assert(banded == exact)
  }

  test("weighted pairing collapses duplication; sweep folds the expansion exactly") {
    import spark.implicits._
    // expanded corpus: docs ∪ full copy ∪ evens copy. Note doc 2 is an
    // exact dup of doc 1 after normalization, so the classes are
    // {1,2,101,102,202} (mult 5), {3,103} (2), {4,104,204} (3), {5,105} (2)
    val base = docs.select(col("doc_id"), col("text"))
    val expanded = base
      .unionByName(base.select((col("doc_id") + 100).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 200).as("doc_id"), col("text")))
    val reps = Dedup.exactByText(expanded, "text", "doc_id")
    // (1) weighted-pairs ≡ pairs-after-exact-collapse, with the exact
    // class sizes attached — the same banding parameters on both sides
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val weighted = Dedup.minhashPairsWeighted(expanded, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.35, shingleSize = 3)
    val afterCollapse = Dedup.minhashPairs(reps, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.35, shingleSize = 3)
    assert(pset(weighted) == pset(afterCollapse) && pset(weighted).nonEmpty)
    val mults = weighted.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("mult_a"), r.getAs[Long]("mult_b"))).toMap
    assert(mults((1L, 3L)) == (5L, 2L))
    // (2) the band-exhaustive weighted anchor equals the exact pair set
    // over the representatives (the x90 oracle's claim)
    def jrows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val wx = Dedup.minhashPairsWeightedBandExhaustive(expanded, "doc_id",
      "text", maxId = 1000, threshold = 0.5)
    assert(jrows(wx) == jrows(Dedup.shingleJaccardPairsExact(reps, "doc_id",
      "text", maxId = 1000, threshold = 0.5)))
    // (3) the weighted sweep reproduces the EXPANDED corpus's drop curve
    // term for term — never materializing the expanded pairs (which the
    // ground-truth side here does, quadratically)
    val classes = Dedup.exactByTextWeighted(expanded, "text", "doc_id")
    val expandedPairs = Dedup.shingleJaccardPairsExact(expanded, "doc_id",
      "text", maxId = 1000, threshold = 0.5)
    val ts = Seq(0.5, 0.8, 1.0)
    def curve(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("threshold").collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val folded = curve(Dedup.dedupSweepWeighted(classes, wx, "jaccard", ts))
    val brute = curve(Dedup.dedupSweep(expanded, expandedPairs, "jaccard", ts))
    assert(folded == brute)
    assert(folded.head._3 == 12L)     // n_docs = the EXPANDED count
    assert(folded.last._2 >= 8L)      // t=1.0: every non-representative drops
  }

  test("weighted SimHash pairing collapses duplication; sweep folds the expansion exactly") {
    import spark.implicits._
    // doc 6 permutes doc 1's tokens: same token MULTISET (simhash 0
    // hamming — banding-guaranteed candidate) but different normalized
    // text, so it stays a SEPARATE class — the weighted relation must
    // pair the two representatives with both class sizes
    val base = docs.unionByName(Seq((6L,
      "quick the brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text"))
    val expanded = base
      .unionByName(base.select((col("doc_id") + 100).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 200).as("doc_id"), col("text")))
    // classes: {1,2,101,102,202}=5, {3,103}=2, {4,104,204}=3, {5,105}=2,
    // {6,106,206}=3
    val reps = Dedup.exactByText(expanded, "text", "doc_id")
    def hset(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1) weighted pairs ≡ plain pairs after exact collapse (identical
    // deterministic signatures and banding), class sizes attached
    val weighted = Dedup.simhashPairsWeighted(expanded, "doc_id", "text",
      maxHamming = 20)
    assert(hset(weighted) ==
      hset(Dedup.simhashPairs(reps, "doc_id", "text", maxHamming = 20)))
    val mults = weighted.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("mult_a"), r.getAs[Long]("mult_b"))).toMap
    assert(mults((1L, 6L)) == (5L, 3L)) // the hamming-0 permuted pair
    // (2) at maxHamming <= 3 the banded weighted form equals the
    // exhaustive weighted anchor exactly (pigeonhole over 4x16 bands)
    def wrows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming", "mult_a", "mult_b")
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getLong(4))).toSeq
    val banded3 = Dedup.simhashPairsWeighted(expanded, "doc_id", "text",
      maxHamming = 3)
    val exhaustive3 = Dedup.simhashPairsWeightedExhaustive(expanded,
      "doc_id", "text", maxId = 1000, maxHamming = 3)
    assert(wrows(banded3) == wrows(exhaustive3) && wrows(banded3).nonEmpty)
    // (3) the weighted sweep on sim = (64-h)/64 reproduces the EXPANDED
    // corpus's drop curve term for term
    val ts = Seq(0.9531, 1.0)
    def curve(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("threshold").collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val folded = curve(Dedup.dedupSweepWeighted(
      Dedup.exactByTextWeighted(expanded, "text", "doc_id"),
      banded3.withColumn("sim", Dedup.simhashSim(col("hamming"))), "sim", ts))
    val brute = curve(Dedup.dedupSweep(expanded,
      Dedup.simhashPairs(expanded, "doc_id", "text", maxHamming = 3)
        .withColumn("sim", Dedup.simhashSim(col("hamming"))), "sim", ts))
    assert(folded == brute)
    assert(folded.head._3 == 15L) // n_docs = the EXPANDED count
    // t=1.0 drops every non-representative (10) plus rep 6 (hamming-0
    // partner rep 1): 11
    assert(folded.last._2 == 11L)
  }

  test("weighted embcos collapses duplicated vectors; sweep folds the expansion exactly") {
    import spark.implicits._
    // vecs: 1=(1,0,0), 2=(0.9,0.1,0), 3=(0,1,0), 4=(1,0,0) — 1 and 4 are
    // IDENTICAL vectors under different ids, so they join ONE class
    val expanded = vecs
      .unionByName(vecs.select((col("vec_id") + 100).as("vec_id"),
        col("embedding")))
    val classes = Similarity.exactByVecWeighted(expanded, "embedding", "vec_id")
    val cm = classes.select("vec_id", "mult").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cm == Map(1L -> 4L, 2L -> 2L, 3L -> 2L)) // {1,4,101,104},{2,102},{3,103}
    // (1) weighted banded ≡ plain banded after collapse (same
    // deterministic hyperplane signatures over the same reps)
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cset(Similarity.cosineNearDupPairsWeighted(expanded, "vec_id",
        "embedding", 0.99)) ==
      cset(Similarity.cosineNearDupPairs(classes.drop("mult"), "vec_id",
        "embedding", 0.99)))
    // (2) the exact weighted anchor: exactly the (1,2) rep pair at
    // cos = 0.9/sqrt(0.82), with class sizes 4 and 2
    val exact = Similarity.cosineNearDupPairsWeightedExact(expanded,
      "vec_id", "embedding", maxId = 1000, threshold = 0.99)
    val erows = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(erows == Seq((1L, 2L,
      math.round(0.9 / math.sqrt(0.82) * 1e6) / 1e6, 4L, 2L)))
    // (3) the weighted sweep reproduces the expanded corpus's curve
    val ts = Seq(0.99, 1.0)
    def curve(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("threshold").collect()
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val folded = curve(Dedup.dedupSweepWeighted(classes, exact, "cos", ts))
    val brute = curve(Dedup.dedupSweep(expanded,
      Similarity.cosineNearDupPairsExact(expanded, "vec_id", "embedding",
        maxId = 1000, threshold = 0.99), "cos", ts))
    assert(folded == brute)
    assert(folded == Seq((0.99, 6L, 8L, 0.75), (1.0, 5L, 8L, 0.625)))
  }

  test("auditPairsWeighted: the unweighted queue over the collapsed corpus, class sizes attached") {
    import spark.implicits._
    val base = docs
    val expanded = base
      .unionByName(base.select((col("doc_id") + 100).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 200).as("doc_id"), col("text")))
    val reps = Dedup.exactByText(expanded, "text", "doc_id")
    val wq = Dedup.auditPairsWeighted(
      Dedup.shingleJaccardPairsWeightedExact(expanded, "doc_id", "text",
        maxId = 1000, threshold = 0.0),
      "jaccard",
      Dedup.exactByTextWeighted(expanded, "text", "doc_id"),
      "doc_id", "text", threshold = 0.9, k = 3)
    val uq = Dedup.auditPairs(
      Dedup.shingleJaccardPairsExact(reps, "doc_id", "text",
        maxId = 1000, threshold = 0.0),
      "jaccard", reps, "doc_id", "text", threshold = 0.9, k = 3)
    def qrows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "score", "dist", "text_a", "text_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getString(4), r.getString(5))).toSeq
    assert(qrows(wq) == qrows(uq) && qrows(wq).nonEmpty)
    val wmults = wq.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("mult_a"), r.getAs[Long]("mult_b"))).toMap
    assert(wmults((1L, 3L)) == (5L, 2L))
  }

  test("minhashPairsAgainstBandExhaustive equals the exact cross-side pair set") {
    // corpus = the fixture, batch = the fixture re-id'd: every batch doc
    // must pair with its original at jaccard 1.0, plus the true
    // cross-side near-dups — the x43b anchor's contract
    val corpus = docs
    val batch = docs.withColumn("doc_id", col("doc_id") + 1000)
    val got = Dedup.minhashPairsAgainstBandExhaustive(
      batch, "doc_id", "text", corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exact ground truth: all-pairs shingle Jaccard over the union,
    // narrowed to cross-side pairs (corpus ids < 1000 < batch ids, so
    // id_a<id_b always puts corpus on the left)
    val shingleTruth = Dedup.shingleJaccardPairsExact(
      docs.unionByName(batch), "doc_id", "text",
      maxId = Long.MaxValue, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a <= 5 && b > 1000 } // cross-side only
      .map { case (a, b, j) => (b, a, j) }.toSet
    assert(got.exists { case (b, c, j) => b == c + 1000 && j == 1.0 }) // self-pairs
    assert(got == shingleTruth)
  }

  test("fused ws_tokens kernel is bit-identical to the regex composition") {
    import spark.implicits._
    // adversarial corpus: every ASCII \s class member, runs, leading/
    // trailing ws, case with Unicode (İ lowers to a LONGER string, ß
    // stays), multibyte text, NBSP (  is NOT Java \s — must stay
    // inside a token), empty, whitespace-only, null
    val fixtures = Seq(
      "Hello  World", "  lead", "trail   ", "\ta\tb\nc\rde\ff",
      "MiXeD CaSe TEXT", "İstanbul STRASSE ß", "日本語 テキスト 混在",
      "nbsp inside", "", "   ", "\t\n\r", "one",
      "a" * 500 + " " + "b" * 500, null.asInstanceOf[String]
    ) ++ (1 to 50).map { i =>
      val r = new scala.util.Random(i)
      (1 to 30).map(_ => r.alphanumeric.take(r.nextInt(8)).mkString)
        .mkString(Seq(" ", "  ", "\t", "\n", " \r ")(r.nextInt(5)))
    }
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    df.select(col("id"), TextOps.tokens(col("text")).as("kernel"),
        TextOps.tokensRegex(col("text")).as("regex"))
      .collect().foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2), s"null parity, id ${r.getLong(0)}")
        if (!r.isNullAt(1))
          assert(r.getAs[scala.collection.Seq[String]]("kernel") ==
            r.getAs[scala.collection.Seq[String]]("regex"), s"id ${r.getLong(0)}")
      }
  }

  test("ascii_class_count and member_count kernels match their regex/HOF forms") {
    import spark.implicits._
    val fixtures = Seq(
      "Hello, World! (mixed) [case]; 'quoted' \"too\" - done?",
      "ALLCAPS lower 12345 !!!", "日本語テキスト with ascii", "",
      "   ", "no.punct.but.dots...", null.asInstanceOf[String]
    ) ++ (1 to 30).map { i =>
      val r = new scala.util.Random(100 + i)
      (1 to 40).map(_ => r.nextPrintableChar()).mkString + " the la der und"
    }
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // alpha + punct counts vs the regex strip-and-measure forms
    val both = df.select(col("id"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("alpha_rx"),
      graft.ops.TextOps.alphaCountForTest(col("text")).as("alpha_k"),
      length(regexp_replace(col("text"), "[^.,;:!?'\"()\\[\\]-]", "")).as("punct_rx"),
      graft.ops.TextOps.punctCountForTest(col("text")).as("punct_k"))
    both.collect().foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) && r.isNullAt(3) == r.isNullAt(4),
        s"null parity, id ${r.getLong(0)}")
      if (!r.isNullAt(1)) {
        assert(r.getInt(1) == r.getInt(2), s"alpha id ${r.getLong(0)}")
        assert(r.getInt(3) == r.getInt(4), s"punct id ${r.getLong(0)}")
      }
    }
    // stopword membership count vs the HOF filter form
    val words = Seq("the", "la", "der", "und", "le")
    val toks = df.select(col("id"), TextOps.tokens(col("text")).as("tk"))
    toks.select(col("id"),
        TextOps.stopwordHits(col("tk"), words).as("kernel"),
        TextOps.stopwordHitsHof(col("tk"), words).as("hof"))
      .collect().foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2), s"null parity, id ${r.getLong(0)}")
        if (!r.isNullAt(1))
          assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)}")
      }
  }

  test("native minhash_signature kernel is bit-identical to the HOF formulation") {
    val hashed = docs.select(col("doc_id"),
      Dedup.shingleHashes(Dedup.shingles(col("text"), 3)).as("hs"))
    val both = hashed.select(col("doc_id"),
      Dedup.minhashSignature(col("hs"), 64).as("native"),
      Dedup.minhashSignatureHof(col("hs"), 64).as("hof"))
    val rows = both.collect()
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("native") ==
        r.getAs[scala.collection.Seq[Long]]("hof"))
    }
  }

  test("fused shingle_hashes kernel matches the HOF shingle pipeline as a set") {
    val both = docs.select(col("doc_id"),
      Dedup.shingleHashes(Dedup.shingles(col("text"), 3)).as("hof"),
      Dedup.shingleHashesFused(col("text"), 3).as("fused"))
    both.collect().foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("fused").toSet ==
        r.getAs[scala.collection.Seq[Long]]("hof").toSet,
        s"doc ${r.getLong(0)}")
    }
    // short-text fallback (< n tokens) goes through the normText branch
    import spark.implicits._
    val short = Seq((1L, "one two"), (2L, ""), (3L, "  Spaced   OUT  ")).toDF("id", "text")
    short.select(col("id"),
        Dedup.shingleHashes(Dedup.shingles(col("text"), 3)).as("hof"),
        Dedup.shingleHashesFused(col("text"), 3).as("fused"))
      .collect().foreach { r =>
        assert(r.getAs[scala.collection.Seq[Long]]("fused").toSet ==
          r.getAs[scala.collection.Seq[Long]]("hof").toSet, s"id ${r.getLong(0)}")
      }
  }

  test("native simhash and hyperplane kernels are bit-identical to HOF formulations") {
    val hashed = docs.select(col("doc_id"),
      transform(TextOps.tokens(col("text")), t => xxhash64(t)).as("th"))
    hashed.select(Dedup.simhashOfHashes(col("th")).as("native"),
        Dedup.simhashOfHashesHof(col("th")).as("hof"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))

    import spark.implicits._
    val vecs = Seq((1L, Array(0.3f, -0.2f, 0.9f)), (2L, Array(-1.0f, 0.5f, 0.1f)))
      .toDF("id", "v")
    vecs.select(Similarity.hyperplaneSignature(col("v"), 16, 3).as("native"),
        Similarity.hyperplaneSignatureHof(col("v"), 16, 3).as("hof"))
      .collect().foreach { r =>
        assert(r.getAs[scala.collection.Seq[Int]]("native") ==
          r.getAs[scala.collection.Seq[Int]]("hof"))
      }
  }

  test("packSequences: two-level prefix sum equals a serial running sum") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, (i % 7) + 1)).toDF("id", "n")
    // shardSize 8 forces multiple shards and non-trivial offsets
    val packed = graft.ops.Packing.packSequences(docs, "id", "n",
      budget = 10, shardSize = 8)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("tokens_before"), r.getAs[Long]("bin")))
    var cum = 0L
    val expected = (1L to 50L).map { i =>
      val before = cum; cum += (i % 7) + 1; (i, before, before / 10)
    }
    assert(packed.toSeq == expected)
  }

  test("topTokens counts the corpus vocabulary with a deterministic order") {
    import spark.implicits._
    val df = Seq("the cat sat", "the cat", "THE  dog").toDF("text")
    val top = graft.ops.TextOps.topTokens(df, "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("the", 3L), ("cat", 2L), ("dog", 1L))) // tie: asc token
  }

  test("vocabGrowth buckets tokens by first occurrence; null ids stay visible") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha beta"), (1L, "alpha gamma"), (10L, "beta delta"),
      (11L, "epsilon EPSILON"), (25L, "alpha zeta"))
      .toDF("doc_id", "text")
    val curve = graft.ops.TextOps.vocabGrowth(df, "doc_id", "text", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // bucket 0: alpha beta gamma (3 new); bucket 10: delta epsilon
    // (normalization folds EPSILON in); bucket 20: zeta
    assert(curve == Seq((0L, 3L, 3L), (10L, 2L, 5L), (20L, 1L, 6L)))
    // a token first seen only under a null id lands in the null bucket
    val withNull = df.unionByName(
      Seq((Option.empty[Long], "omega")).toDF("doc_id", "text"))
    val c2 = graft.ops.TextOps.vocabGrowth(withNull, "doc_id", "text", 10L)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2))).toSeq
    assert(c2 == Seq((-1L, 1L, 1L), (0L, 3L, 4L), (10L, 2L, 6L), (20L, 1L, 7L)))
    intercept[IllegalArgumentException] {
      graft.ops.TextOps.vocabGrowth(df, "doc_id", "text", 0L) }
  }

  test("tokenSpectrum: count-of-counts with the Zipf rank boundary") {
    import spark.implicits._
    // counts: the=3, cat=2, dog=1, sat=1
    val df = Seq("the cat sat", "the cat", "THE  dog").toDF("text")
    val spec = graft.ops.TextOps.tokenSpectrum(df, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // rank_ge: 4 tokens occur >=1, 2 occur >=2, 1 occurs >=3
    assert(spec == Seq((1L, 2L, 4L), (2L, 1L, 2L), (3L, 1L, 1L)))
  }

  test("topTokensByGroup ranks per group with token-ascending ties; composes as cluster keywords") {
    import spark.implicits._
    val df = Seq(
      ("web", "the cat sat"), ("web", "the cat"), ("web", "THE  dog"),
      ("book", "dog dog dog"), ("book", "cat")).toDF("source", "text")
    val got = graft.ops.TextOps.topTokensByGroup(df, "source", "text", 2)
      .orderBy("source", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq(
      ("book", "dog", 3L, 1), ("book", "cat", 1L, 2),
      ("web", "the", 3L, 1), ("web", "cat", 2L, 2)))
    // cluster-keywords composition: a clusterAssignWith label joined on
    // as the group column slices the vocabulary per semantic bucket
    val vecs = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.0, 1.0))).toDF("doc_id", "vec")
    val texts = Seq((0L, "spark shuffle spark"), (1L, "spark join"),
      (2L, "tokenizer corpus")).toDF("doc_id", "text")
    val assigned = graft.ops.Similarity.clusterAssignWith(
      vecs, "vec", Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
      .select(col("doc_id"), col("cluster"))
    val kw = graft.ops.TextOps.topTokensByGroup(
      texts.join(assigned, "doc_id"), "cluster", "text", 1)
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(kw == Seq((0, "spark", 3L), (1, "corpus", 1L)))
  }

  test("topTokensSketch: exact at ample capacity, certified bounds under eviction") {
    import spark.implicits._
    // skewed corpus across several partitions: 'alpha' dominates
    // everywhere, the tail differs per doc
    val docs = (0L until 60L).map { i =>
      val tail = s"tail${i % 13} tail${i % 7} rare$i"
      s"alpha alpha alpha beta $tail"
    }.toDF("text").repartition(6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // ample capacity: equals the exact operator, bound gap zero
    val exact = graft.ops.TextOps.topTokens(docs, "text", 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val ample = rows(graft.ops.TextOps.topTokensSketch(docs, "text", 10, 4096))
    assert(ample.map(t => (t._1, t._2)) == exact)
    assert(ample.forall(t => t._2 == t._3), "no withholding -> n_max == n")
    // tight capacity: every reported token's interval [n, n_max] must
    // contain its TRUE corpus count, and the certified head must rank
    // the dominant token first
    val truth = graft.ops.TextOps.topTokens(docs, "text", 10000).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val tight = rows(graft.ops.TextOps.topTokensSketch(docs, "text", 10, 3))
    assert(tight.nonEmpty && tight.head._1 == "alpha")
    assert(tight.head._2 == truth("alpha"),
      "a token never the heap minimum in any partition is counted exactly")
    for ((t, n, nMax) <- tight) {
      assert(n <= truth(t), s"$t lower bound must not exceed truth")
      assert(nMax >= truth(t), s"$t certified upper bound must cover truth")
    }
    // empty corpus: empty result, no crash
    assert(graft.ops.TextOps.topTokensSketch(
      Seq.empty[String].toDF("text"), "text", 5, 8).collect().isEmpty)
    // single partition at capacity 8 (tail churn, but the head tokens
    // out-ratchet the min counter): alpha and beta survive with exact
    // zero-gap counts and rank as the exact top-2; churned-tail
    // intervals are wide but still cover truth. (At capacity 2 the
    // churn counter ratchets 4/doc vs alpha's 3/doc and even alpha is
    // legitimately evicted — the n/capacity error floor exceeds the
    // head count, so that regime certifies nothing; by design the
    // bounds say so rather than pretend.)
    val one = rows(graft.ops.TextOps.topTokensSketch(
      docs.coalesce(1), "text", 3, 8))
    assert(one.take(2).map(t => (t._1, t._2)) == exact.take(2))
    assert(one.take(2).forall(t => t._2 == t._3),
      "never-evicted heads carry zero-gap certified counts")
    for ((t, n, nMax) <- one)
      assert(n <= truth(t) && nMax >= truth(t), s"$t: [$n,$nMax]")
  }

  test("topTokensSketch summarizer is memory-bounded: distinct >> capacity") {
    import spark.implicits._
    // direct summary check: ~50k distinct tokens through 64 counters
    val s = new graft.ops.SpaceSavingSummary(64)
    val rnd = new scala.util.Random(7)
    val truth = scala.collection.mutable.HashMap.empty[String, Long]
    val stream = Array.fill(200000) {
      if (rnd.nextInt(100) < 60) s"head${rnd.nextInt(8)}"
      else s"tail${rnd.nextInt(50000)}"
    }
    stream.foreach { t =>
      truth.update(t, truth.getOrElse(t, 0L) + 1L); s.add(t)
    }
    assert(s.size <= 64, "summary must never exceed capacity counters")
    val thr = s.threshold
    val tracked = s.entries.toSeq
    val trackedSet = tracked.map(_._1).toSet
    for ((t, lo, hi) <- tracked)
      assert(lo <= truth(t) && truth(t) <= hi, s"$t: [$lo,$hi] vs ${truth(t)}")
    for ((t, c) <- truth if !trackedSet(t))
      assert(c <= thr, s"untracked $t count $c exceeds threshold $thr")
    // end-to-end: ONE partition whose distinct count dwarfs the
    // 64-counter budget; [n, n_max] must still bracket every truth and
    // the 8 heavy head tokens (~15k each vs a ~2-count tail) must be
    // exactly the output
    val docs = stream.grouped(50).map(_.mkString(" ")).toSeq
      .toDF("text").coalesce(1)
    val got = graft.ops.TextOps.topTokensSketch(docs, "text", 8, 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 8)
    for ((t, n, nMax) <- got)
      assert(n <= truth(t) && truth(t) <= nMax, s"$t: [$n,$nMax]")
    assert(got.map(_._1).toSet == (0 until 8).map(i => s"head$i").toSet)
  }

  test("corpusDiff: added/removed/changed/unchanged; normalization-equal and null texts read unchanged") {
    import spark.implicits._
    val old = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "Gamma   Doc"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val cur = Seq((1L, "alpha doc"), (3L, "gamma doc"),
      (4L, null.asInstanceOf[String]), (5L, "brand new"),
      (6L, "alpha doc")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.corpusDiff(old, "doc_id", "text", cur, "doc_id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(
      1L -> "unchanged",
      2L -> "removed",
      3L -> "unchanged", // case/whitespace-only edit normalizes away
      4L -> "unchanged", // null text on both sides: null-safe compare
      5L -> "added",
      6L -> "added"))
    // a real edit reads changed
    val edited = graft.ops.Dedup.corpusDiff(old, "doc_id", "text",
      old.withColumn("text", when(col("doc_id") === 1, lit("alpha doc v2"))
        .otherwise(col("text"))), "doc_id", "text")
      .filter(col("status") =!= "unchanged").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(edited == Seq(1L -> "changed"))
  }

  test("retention cohorts by first-activity period; duplicate-day events collapse") {
    import spark.implicits._
    def ts(day: Int, h: Int = 12) =
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(0), 100L), (2L, ts(0, 13), 100L), // user 100 twice on day 0
      (3L, ts(1), 100L), (4L, ts(3), 100L),     // re-active day 1 and 3
      (5L, ts(1), 200L),                        // user 200 cohorts on day 1
      (6L, ts(0), 300L), (7L, ts(9), 300L))     // day 9 falls past maxOffset 7
      .toDF("event_id", "ts", "user_id")
      // a user whose only event has a null ts belongs to no cohort
      .unionByName(Seq((8L, null.asInstanceOf[java.sql.Timestamp], 400L))
        .toDF("event_id", "ts", "user_id"))
    val got = graft.streaming.EventStreams.retention(ev, 86400L, 7)
      .orderBy("cohort", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val day0 = 19723L // 2024-01-01 as an epoch-day index
    assert(got == Seq(
      (day0, 0L, 2L),     // users 100 and 300
      (day0, 1L, 1L),     // user 100 back on day 1
      (day0, 3L, 1L),     // user 100 back on day 3
      (day0 + 1, 0L, 1L)) // user 200's own cohort
    )
  }

  test("retention mask form equals the pair-relation reference on random fixtures") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // the DISTINCT (user, period) + min-over-pairs + join reference —
    // the pre-mask shape, kept here as the semantic oracle
    def pairForm(ev: DataFrame, periodSeconds: Long, maxOffset: Int) = {
      val epoch = unix_seconds(col("ts").cast("timestamp"))
      val period = ((epoch - pmod(epoch, lit(periodSeconds))) /
        lit(periodSeconds)).cast("long")
      val activity = ev.select(col("user_id").as("user"),
        period.as("period")).distinct()
      val cohorts = activity.groupBy("user").agg(min("period").as("cohort"))
      activity.join(cohorts, "user")
        .withColumn("offset", col("period") - col("cohort"))
        .filter(col("offset") <= maxOffset)
        .groupBy("cohort", "offset").agg(count(lit(1)).as("n_users"))
    }
    def cells(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rnd = new scala.util.Random(20260816L)
    (1 to 12).foreach { round =>
      val period = 1L + rnd.nextInt(5)
      val maxOff = rnd.nextInt(63) // 0..62, incl. the mask-word boundary
      val nUsers = 1 + rnd.nextInt(6)
      // epoch seconds can be PRE-1970 (negative) — the floor arithmetic
      // and the mask shifts must agree with the reference there too
      val rows = (1 to 50 + rnd.nextInt(100)).map { i =>
        (i.toLong,
          new java.sql.Timestamp((rnd.nextInt(400) - 120) * 1000L),
          rnd.nextInt(nUsers).toLong)
      }
      val ev = rows.toDF("event_id", "ts", "user_id")
        .repartition(5) // fold under real partial/merge boundaries
      val got = cells(graft.streaming.EventStreams.retention(ev, period, maxOff))
      val want = cells(pairForm(ev, period, maxOff))
      assert(got == want, s"round $round period=$period maxOff=$maxOff")
    }
    // maxOffset past the mask word: the fallback pair shape must engage
    // and agree too
    val ev = (1 to 60).map(i => (i.toLong,
      new java.sql.Timestamp(i * 90000L * 1000L), (i % 3).toLong))
      .toDF("event_id", "ts", "user_id")
    assert(cells(graft.streaming.EventStreams.retention(ev, 86400L, 80)) ==
      cells(pairForm(ev, 86400L, 80)))
  }

  test("mixtureEpochsByHash: ⌊w⌋ full copies + hash-fraction epoch, consistent with mixtureByHash") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    val out = Sampling.mixtureEpochsByHash(df, "id", "src",
      Map("a" -> 2.5, "b" -> 0.4), default = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val aRows = out.filter(_._2 == "a")
    val bRows = out.filter(_._2 == "b")
    // every 'a' row appears at epochs 0 and 1; epoch 2 is the hash half
    assert(aRows.count(_._3 == 0L) == 200 && aRows.count(_._3 == 1L) == 200)
    val aFrac = aRows.filter(_._3 == 2L).map(_._1).toSet
    assert(aFrac.nonEmpty && aFrac.size < 200)
    // 'b' never replicates — only the downsampled epoch 0
    assert(bRows.forall(_._3 == 0L))
    // fractional epochs are EXACTLY mixtureByHash at the fractional weight
    assert(aFrac == Sampling.mixtureByHash(df, "id", "src", Map("a" -> 0.5))
      .collect().map(_.getLong(0)).toSet)
    assert(bRows.map(_._1).toSet ==
      Sampling.mixtureByHash(df, "id", "src", Map("b" -> 0.4))
        .collect().map(_.getLong(0)).toSet)
    // nested: raising a weight strictly extends the sample
    val bBigger = Sampling.mixtureEpochsByHash(df, "id", "src",
      Map("a" -> 2.5, "b" -> 0.7), default = 1.0)
      .filter(col("src") === "b").collect().map(_.getLong(0)).toSet
    assert(bRows.map(_._1).toSet.subsetOf(bBigger))
    // identical output under repartitioning (no RNG anywhere)
    val re = Sampling.mixtureEpochsByHash(df.repartition(7), "id", "src",
      Map("a" -> 2.5, "b" -> 0.4), default = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(re.sorted == out.sorted)
    // integer weights: exact copy counts, no fractional epoch
    val twice = Sampling.mixtureEpochsByHash(df, "id", "src",
      Map("a" -> 2.0), default = 0.0)
    assert(twice.count() == 400L)
    assert(twice.groupBy("epoch").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap == Map(0L -> 200L, 1L -> 200L))
    // the fat-finger guard
    intercept[IllegalArgumentException] {
      Sampling.mixtureEpochsByHash(df, "id", "src", Map("a" -> 5000.0))
    }
  }

  test("dedupSweep's curve equals actually running the drop at every threshold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today ok"),
      (2L, "the quick brown fox jumps over the lazy dog today no"), // ~dup of 1
      (3L, "the quick brown fox jumps over the lazy dog today ok"), // exact dup of 1
      (4L, "pack my box with five dozen liquor jugs right now"),
      (5L, "completely unrelated content about something else entirely here"),
      (6L, "pack my box with five dozen liquor jugs right here")    // ~dup of 4
    ).toDF("id", "text")
    val pairs = Dedup.shingleJaccardPairsExact(docs, "id", "text",
      maxId = 1000, threshold = 0.1, shingleSize = 3)
    val ts = Seq(0.1, 0.5, 0.8, 1.0)
    val got = Dedup.dedupSweep(docs, pairs, "jaccard", ts)
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // ground truth: the sweep must PREDICT dropNearDuplicates exactly
    for ((t, dropped, n, rate) <- got) {
      val actual = docs.count() -
        Dedup.dropNearDuplicates(docs, pairs.filter(col("jaccard") >= t), "id")
          .count()
      assert(dropped == actual, s"threshold $t: predicted $dropped, ran $actual")
      assert(n == 6L)
      assert(rate == BigDecimal(dropped / 6.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the curve is monotone decreasing and ends at the exact-dup count
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sortBy(-_))
    assert(got.last._1 == 1.0 && got.last._2 == 1L) // only 3 is an exact dup
    assert(got.head._2 >= 3L)                       // 2, 3, 6 all drop low
    // empty pair relation: a flat zero curve, never nulls
    val flat = Dedup.dedupSweep(docs, pairs.filter(lit(false)), "jaccard",
      Seq(0.5, 0.9)).orderBy("threshold").collect()
    assert(flat.map(r => (r.getLong(1), r.getDouble(3))).toSeq ==
      Seq((0L, 0.0), (0L, 0.0)))
    intercept[IllegalArgumentException] {
      Dedup.dedupSweep(docs, pairs, "jaccard", Seq.empty)
    }
  }

  test("mixtureWeights solves share·budget/supply, surfaces capped and no-supply targets") {
    import spark.implicits._
    // known supplies: a = 10 docs × 4 tokens = 40; b = 5 × 2 = 10; d = 1
    val df = ((1 to 10).map(i => (i.toLong, "a", "one two three four")) ++
      (11 to 15).map(i => (i.toLong, "b", "five six")) ++
      Seq((16L, "d", "lone"))).toDF("id", "src", "text")
    val got = Sampling.mixtureWeights(df, "src", "text",
      Map("a" -> 0.5, "b" -> 0.4, "c" -> 0.1),
      budgetTokens = 100L, maxWeight = 3.0)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4),
        r.getString(5)))
    assert(got.toSeq == Seq(
      ("a", 40L, 0.5, Some(1.25), 1.25, "ok"),      // 0.5·100/40
      ("b", 10L, 0.4, Some(4.0), 3.0, "capped"),    // needs 4 epochs, cap 3
      ("c", 0L, 0.1, None, 0.0, "no_supply"),       // targeted, absent
      ("d", 1L, 0.0, Some(0.0), 0.0, "ok")))        // present, untargeted
    // the solved weights feed the epoch sampler directly: 'a' at 1.25
    // yields one full copy of every a-row plus a hash quarter
    val w = got.collect { case (s, _, _, _, wt, "ok" | "capped") if wt > 0 => s -> wt }.toMap
    val applied = Sampling.mixtureEpochsByHash(df, "id", "src", w, default = 0.0)
    assert(applied.filter(col("src") === "a" && col("epoch") === 0).count() == 10L)
    assert(applied.filter(col("src") === "c").count() == 0L)
    // guards
    intercept[IllegalArgumentException] {
      Sampling.mixtureWeights(df, "src", "text", Map("a" -> 0.5), 0L)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureWeights(df, "src", "text", Map.empty, 10L)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureWeights(df, "src", "text", Map("a" -> 0.5), 10L,
        maxWeight = 1001.0)
    }
  }

  test("mixture samplers: past ChainLiteralMax the lookup broadcasts-joins, output unchanged") {
    import spark.implicits._
    val df = (0L until 1200L).map(i => (i, s"src${i % 6}")).toDF("id", "src")
    // pad the weights map with sources absent from the frame until it
    // crosses the literal-chain bound: the row set MUST be identical to
    // the relevant-only map, whichever lookup strategy compiles
    def pad[A](m: Map[String, Double], v: Double): Map[String, Double] =
      m ++ (0 to Sampling.ChainLiteralMax).map(i => s"pad$i" -> v)
    val frac = Map("src0" -> 0.5, "src1" -> 1.0, "src2" -> 0.0)
    val small = Sampling.mixtureByHash(df, "id", "src", frac, default = 0.3)
    val big = Sampling.mixtureByHash(df, "id", "src", pad(frac, 0.25),
      default = 0.3)
    assert(small.schema == big.schema)
    assert(big.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .sameElements(small.collect().map(r => (r.getLong(0), r.getString(1))).sorted))
    // strategy switch is observable in the physical plan
    assert(big.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(!small.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val ep = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0)
    val epSmall = Sampling.mixtureEpochsByHash(df, "id", "src", ep, default = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val epBig = Sampling.mixtureEpochsByHash(df, "id", "src", pad(ep, 3.25),
      default = 1.0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(epBig.sameElements(epSmall))
    // internal-column collisions fail fast rather than silently resolving
    intercept[IllegalArgumentException] {
      Sampling.mixtureEpochsByHash(df.withColumn("__full", lit(1)),
        "id", "src", ep)
    }
  }

  test("deterministic sampling: stratified top-k and hash fraction") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 3 == 0) "en" else "es"))
      .toDF("id", "lang")
    val s1 = Sampling.stratifiedTopK(df, "lang", "id", 10)
    // exactly k per stratum, and identical across runs/partitionings
    assert(s1.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap == Map("en" -> 10L, "es" -> 10L))
    val ids1 = s1.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedTopK(df.repartition(7), "lang", "id", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)

    val f = Sampling.fractionByHash(df, "id", 0.2)
    val n = f.count()
    assert(n > 50 && n < 150) // ~100 expected, loose uniformity bound
    // smaller fraction is a SUBSET of the larger (nested samples)
    val small = Sampling.fractionByHash(df, "id", 0.05)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(f.select("id").collect().map(_.getLong(0)).toSet))
  }

  test("duplicateClusters collapses chains; clustered drop keeps one per component") {
    import spark.implicits._
    // chain 1-2, 2-3 (no 1-3 edge) + separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    val docs = Seq(1L, 2L, 3L, 7L, 10L, 11L).toDF("id")
    val kept = Dedup.dropNearDuplicatesClustered(docs, pairs, "id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 7L, 10L)) // one per component + untouched 7
    // greedy policy over-deletes nothing here but would keep the same min
    val greedy = Dedup.dropNearDuplicates(docs, pairs, "id")
      .collect().map(_.getLong(0)).toSet
    assert(greedy == Set(1L, 7L, 10L))
  }

  test("dropNearDuplicates keeps the smallest id of each cluster") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, shingleSize = 3)
    val kept = Dedup.dropNearDuplicates(docs, pairs, "doc_id")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept.head == 1L)
    assert(!kept.contains(2L))
    assert(kept.contains(4L) && kept.contains(5L))
  }

  test("minhash maxBucket skew guard bounds degenerate buckets, keeps normal pairs") {
    import spark.implicits._
    // 3000 copies of the same boilerplate: one bucket per band of size
    // 3000 — unguarded that's 16 × 4.5M pair emissions from one task
    val boiler = (1L to 3000L).map(i =>
      (i, "identical boilerplate text repeated across the whole corpus"))
    // plus one genuine near-dup pair with distinct ids
    val pair = Seq(
      (9001L, "a rare document about spark catalyst optimizer internals today"),
      (9002L, "a rare document about spark catalyst optimizer internals tonight"))
    val df = (boiler ++ pair).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashPairs(df, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5, shingleSize = 3).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // the guard drops the mega-bucket (documented recall trade: exact
    // dedup is the tool for identical text), the real pair survives
    assert(pairs.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 9002L))
    assert(!pairs.exists(r => r.getLong(0) <= 3000L && r.getLong(1) <= 3000L))
    assert(secs < 60, s"skew guard failed to bound work: ${secs}s")
  }

  test("semanticDedup inherits the maxBucket skew guard on a degenerate cluster") {
    import spark.implicits._
    // 3000 identical vectors: one cluster, one bucket per band of size
    // 3000 — the shared bucket cap must drop the mega-bucket (documented
    // recall trade) while a genuine in-cluster near-dup pair survives
    val boiler = (1L to 3000L).map(i => (i, Array(1.0, 0.05, 0.0)))
    val pair = Seq((9001L, Array(0.0, 0.1, 1.0)), (9002L, Array(0.0, 0.1, 1.0)))
    val df = (boiler ++ pair).toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val got = Similarity.semanticDedupPairs(df, "vec_id", "embedding",
      semCents ++ Seq(Seq(0.0, 0.0, 1.0)), threshold = 0.99).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.exists(r => r.getLong(0) == 9001L && r.getLong(1) == 9002L))
    assert(!got.exists(r => r.getLong(0) <= 3000L && r.getLong(1) <= 3000L))
    assert(secs < 60, s"skew guard failed to bound work: ${secs}s")
  }

  test("simhashPairs: identical docs have hamming 0, near dups small hamming") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
    val m = pairs.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(m((1L, 2L)) == 0)
    assert(m.get((1L, 3L)).exists(_ <= 8))
    assert(!m.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("jaccardPairsExact computes exact token-set jaccard") {
    val pairs = Dedup.jaccardPairsExact(docs, "doc_id", "text", maxId = 100, threshold = 0.5)
    val m = pairs.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(m((1L, 2L)) == 1.0)
    // docs 1 and 3: tokens differ by {dog}/{cat}: inter=10, union=12
    assert(m((1L, 3L)) == math.round(10.0 / 12.0 * 10000) / 10000.0)
  }

  // ------------------------- similarity -------------------------

  val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val queries = vecs.filter(col("vec_id") === 1)
    val got = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got.map(_._2) == Seq(4L, 2L, 3L)) // identical first, then near, then orthogonal
  }

  test("cosineNearDupPairs finds the identical pair") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(p => (p._1, p._2)).contains((1L, 4L)))
    assert(got.forall(_._3 >= 0.99))
  }

  // ------------------------- semantic dedup (SemDeDup) -------------------------

  // two orthogonal fixed centroids: x-dominant → cluster 0, y-dominant → 1
  private val semCents: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))

  test("semanticDedupPairsExact scopes pairs to clusters: a near-dup pair straddling the boundary is suppressed") {
    // v1/v2 are cos ≈ 0.9996 near-dups, but v1 is x-dominant (cluster 0)
    // and v2 y-dominant (cluster 1): SemDeDup must NOT pair them, while
    // the global exact path must — that delta IS the cluster scoping
    val df = Seq(
      (1L, Array(1.0, 0.98, 0.0)),
      (2L, Array(0.98, 1.0, 0.0)),
      (3L, Array(0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val sem = Similarity.semanticDedupPairsExact(df, "vec_id", "embedding",
      semCents ++ Seq(Seq(0.0, 0.0, 1.0)), maxId = 100, threshold = 0.95)
    assert(sem.count() == 0)
    val global = Similarity.cosineNearDupPairsExact(df, "vec_id", "embedding",
      maxId = 100, threshold = 0.95)
    assert(global.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("semanticDedup drops the larger-id in-cluster near-dup and keeps the cluster label") {
    val df = Seq(
      (1L, Array(1.0, 0.0, 0.0)),   // cluster 0
      (2L, Array(1.0, 0.01, 0.0)),  // cluster 0, near-dup of 1 → dropped
      (3L, Array(0.0, 1.0, 0.0)),   // cluster 1 (orthogonal to 1/2: kept)
      (4L, Array(0.01, 1.0, 0.0))). // cluster 1, near-dup of 3 → dropped
      toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, "vec_id", "embedding", semCents,
        threshold = 0.95)
      .select("vec_id", "cluster")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((1L, 0), (3L, 1)))
  }

  test("semanticDedup exact and LSH paths agree on exact-copy duplicates") {
    // identical vectors share every band signature, so the LSH candidate
    // set provably contains them: both paths must produce the same
    // survivor set (the general LSH/exact delta is recall on NEAR dups,
    // gated separately in PipelineSpec)
    val df = Seq(
      (1L, Array(1.0, 0.2, 0.0)), (2L, Array(1.0, 0.2, 0.0)),
      (3L, Array(0.1, 1.0, 0.3)), (4L, Array(0.1, 1.0, 0.3)),
      (5L, Array(0.0, 0.3, 1.0))).toDF("vec_id", "embedding")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = ids(Similarity.semanticDedupExact(df, "vec_id", "embedding",
      semCents, maxId = 100, threshold = 0.999))
    val lsh = ids(Similarity.semanticDedup(df, "vec_id", "embedding",
      semCents, threshold = 0.999))
    assert(exact == Seq(1L, 3L, 5L))
    assert(lsh == exact)
  }

  // ------------------------- quality-priority collapse -------------------------

  test("dropNearDuplicatesClusteredBy keeps the best-scoring member per component") {
    val docs = Seq(
      (1L, "aaa", 10.0), (2L, "aab", 30.0), (3L, "aac", 20.0), // chain component
      (4L, "solo", 5.0)).toDF("id", "text", "score")
    // chain 1~2, 2~3 (no 1~3): one component {1,2,3}; 2 has max score
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.dropNearDuplicatesClusteredBy(docs, pairs, "id", col("score"))
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 4L)) // keep-best ≠ min-id (which would keep 1)
  }

  test("dropNearDuplicatesClusteredBy: score ties break to min id; null scores lose; all-null falls back to min id") {
    val docs = Seq(
      (1L, 5.0.asInstanceOf[java.lang.Double]), (2L, 5.0.asInstanceOf[java.lang.Double]), // tie → keep 1
      (10L, null.asInstanceOf[java.lang.Double]), (11L, 1.0.asInstanceOf[java.lang.Double]), // null loses → keep 11
      (20L, null.asInstanceOf[java.lang.Double]), (21L, null.asInstanceOf[java.lang.Double])) // all null → keep 20
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.dropNearDuplicatesClusteredBy(docs, pairs, "id", col("score"))
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 11L, 20L))
  }

  test("lshTopK finds identical vectors (same signature in every band)") {
    val queries = vecs.filter(col("vec_id") === 1)
    val got = Similarity.lshTopK(vecs, queries, "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(got.nonEmpty && got.head == 4L)
  }

  test("lshTopK probe-all (bitsPerBand=0) equals bruteForceTopK row-for-row") {
    // zero-width bands put every row in one bucket: the banded machinery
    // must reproduce the exact brute ranking (cos values included) —
    // the x7b oracle anchor's contract
    val queries = vecs.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val brute = rows(Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3))
    val probeAll = rows(Similarity.lshTopK(vecs, queries, "vec_id", "embedding", 3,
      bands = 1, bitsPerBand = 0))
    assert(probeAll == brute)
  }

  test("ivfTopK finds the identical vector through its probed cell") {
    val queries = vecs.filter(col("vec_id") === 1)
    val got = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nCells = 2, nProbe = 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(got.nonEmpty && got.head == 4L)
  }

  test("ivfTopK with full probe matches brute force") {
    val queries = vecs.filter(col("vec_id") === 1)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nCells = 2, nProbe = 2) // nProbe == nCells: exhaustive
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(ivf == brute)
  }

  test("clusterAssign separates well-separated groups, map-only invariants hold") {
    val rows = Similarity.clusterAssign(vecs, "vec_id", "embedding",
      k = 2, iters = 2)
      .select("vec_id", "cluster", "cohesion").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(rows.length == 4) // every row assigned
    val byId = rows.map(t => t._1 -> t).toMap
    // e1-ish group {1, 2, 4} together; e2 vector {3} apart
    assert(byId(1L)._2 == byId(2L)._2 && byId(1L)._2 == byId(4L)._2)
    assert(byId(3L)._2 != byId(1L)._2)
    assert(rows.forall { case (_, c, coh) =>
      c >= 0 && c < 2 && coh >= -1.0001 && coh <= 1.0001 })
    // identical vectors to a converged centroid have cohesion 1
    assert(byId(3L)._3 == 1.0)
    // deterministic across physical layout
    val again = Similarity.clusterAssign(vecs.repartition(7), "vec_id",
      "embedding", k = 2, iters = 2)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == rows.map(t => t._1 -> t._2).toMap)
  }

  test("clusterAssign: all-zero vector gets cohesion 0, not NaN") {
    val z = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.clusterAssign(z, "vec_id", "embedding", k = 2, iters = 1)
      .select("vec_id", "cohesion").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(3L) == 0.0)
    assert(got.values.forall(c => !c.isNaN))
  }

  test("IVF index cache keys on the id column (different ids, different sample)") {
    // same corpus plan, two id columns: the deterministic centroid sample
    // hashes ids, so the builds must not share one cache entry
    val two = Seq((1L, 100L, Seq(1.0, 0.0)), (2L, 50L, Seq(0.0, 1.0)),
      (3L, 75L, Seq(1.0, 1.0)), (4L, 25L, Seq(-1.0, 0.5)))
      .toDF("id_a", "id_b", "embedding").cache()
    two.count()
    IvfIndexCache.clear()
    Similarity.clusterAssign(two, "id_a", "embedding", k = 2, iters = 0).collect()
    val afterFirst = IvfIndexCache.size
    Similarity.clusterAssign(two, "id_b", "embedding", k = 2, iters = 0).collect()
    assert(afterFirst == 1 && IvfIndexCache.size == 2)
    two.unpersist()
  }

  test("approxRows is stats-only on derived plans (no count job)") {
    val base = spark.range(0, 1000).toDF("id").cache()
    base.count() // materialize so the cached relation carries a rowCount
    val derived = base.filter(col("id") < 10).select(col("id"))
    // rowCount does not propagate through Filter/Project without CBO; the
    // stats-only estimate is the cached child's upper bound (1000), NOT an
    // executed count (10) — paying a count() here would re-run the whole
    // upstream plan just to size a partition spread or an LSH band
    assert(Similarity.approxRows(derived) == 1000L)
    base.unpersist()
  }

  test("kmeans-refined IVF: full probe still matches brute force; centroids move") {
    val queries = vecs.filter(col("vec_id") === 1)
    val brute = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nCells = 2, nProbe = 2, kmeansIters = 2)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(ivf == brute) // exhaustive probe is centroid-independent

    // spherical refinement converges to NORMALIZED cluster means: with two
    // clear clusters ({e1-ish}, {e2}), one refined centroid is the unit
    // vector of the e1 group's mean
    val initial = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val refined = Similarity.kmeansRefine(vecs, "embedding", initial, 2)
    assert(refined.length == 2)
    refined.foreach(c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)) // unit norms
    val m = Seq((1.0 + 0.9 + 1.0) / 3, (0.0 + 0.1 + 0.0) / 3, 0.0)
    val mUnit = { val n = math.sqrt(m.map(x => x * x).sum); m.map(_ / n) }
    val e1 = refined.minBy(c => math.abs(c.head - 1.0))
    assert(e1.zip(mUnit).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(refined.exists(c => math.abs(c(1) - 1.0) < 1e-6)) // e2 cluster kept
  }

  test("ivf index cache reuses centroids per (corpus plan, params) and rebuilds on change") {
    IvfIndexCache.clear()
    val emb = (1L to 40L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat))).toDF("vec_id", "v")
    val q = emb.filter(col("vec_id") <= 2)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(c, q, "vec_id", "v", k = 3, nCells = 4, nProbe = 4, dim = 4)
        .orderBy("query_id", "rank").collect().toSeq
    val r1 = run(emb)
    assert(IvfIndexCache.size == 1)
    assert(run(emb) == r1)                  // same corpus plan → cache hit
    assert(IvfIndexCache.size == 1)
    run(emb.filter(col("vec_id") <= 30))    // different plan → rebuild
    assert(IvfIndexCache.size == 2)
  }

  test("l2Normalize produces unit vectors and passes zero vectors through") {
    val df = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("id", "v")
      .withColumn("n", Similarity.norm(Similarity.l2Normalize(col("v"))))
    val norms = df.orderBy("id").collect().map(_.getDouble(2))
    assert(math.abs(norms(0) - 1.0) < 1e-12 && norms(1) == 0.0)
  }

  // ------------------------- multimodal -------------------------

  test("asset schema + stub decode plumbing") {
    val assets = Multimodal.assetsFromText(
      docs.withColumnRenamed("doc_id", "id"), "id", "text")
    assert(assets.schema.fieldNames.toSeq ==
      Seq("asset_id", "media_type", "payload", "meta"))
    val feats = Multimodal.decodeFeatures(spark, assets, partitions = 2)
    val rows = feats.collect()
    assert(rows.length == 5)
    val f = rows.head.getAs[scala.collection.Seq[Float]]("features")
    assert(f.length == 8 && f.head > 0) // byte length in slot 0
    // determinism: same payload → same features
    val f1 = feats.filter(col("asset_id") === 1).collect().head
      .getAs[scala.collection.Seq[Float]]("features")
    val f1b = Multimodal.decodeFeatures(spark, assets).filter(col("asset_id") === 1)
      .collect().head.getAs[scala.collection.Seq[Float]]("features")
    assert(f1 == f1b)
  }

  test("sniffHeader decodes real ImageIO-encoded png/gif/jpeg bytes") {
    System.setProperty("java.awt.headless", "true")
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(java.awt.Color.ORANGE); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    assert(Multimodal.sniffHeader(encode("png", 37, 21)) == Some(("png", 37, 21)))
    assert(Multimodal.sniffHeader(encode("gif", 64, 48)) == Some(("gif", 64, 48)))
    assert(Multimodal.sniffHeader(encode("jpg", 130, 257)) == Some(("jpeg", 130, 257)))
    // non-image payloads and truncated headers come back None, not a throw
    assert(Multimodal.sniffHeader(null).isEmpty)
    assert(Multimodal.sniffHeader("just some text".getBytes).isEmpty)
    assert(Multimodal.sniffHeader(encode("png", 9, 9).take(20)).isEmpty)
    assert(Multimodal.sniffHeader(encode("jpg", 9, 9).take(6)).isEmpty)
    assert(Multimodal.sniffHeader(Array[Byte](0xff.toByte, 0xd8.toByte, 0, 0)).isEmpty)
  }

  test("decodeMeta maps real headers and keeps unknowns null") {
    System.setProperty("java.awt.headless", "true")
    val img = new java.awt.image.BufferedImage(
      12, 34, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val pngBytes = bos.toByteArray
    val assets = Seq(
      (1L, "image", pngBytes),
      (2L, "image", "not an image".getBytes)
    ).toDF("asset_id", "media_type", "payload")
    val rows = Multimodal.decodeMeta(assets).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getString(2) == "png" && rows(1L).getInt(3) == 12
      && rows(1L).getInt(4) == 34
      && rows(1L).getLong(5) == pngBytes.length.toLong)
    assert(rows(2L).getString(2) == "unknown" && rows(2L).isNullAt(3)
      && rows(2L).isNullAt(4) && rows(2L).getLong(5) == 12L)
  }

  test("sampleChunks produces bounded chunk index and sizes") {
    val assets = Multimodal.assetsFromText(
      docs.withColumnRenamed("doc_id", "id"), "id", "text")
    val chunks = Multimodal.sampleChunks(assets, chunkSize = 8, stride = 2)
    val rows = chunks.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("chunk_bytes") <= 8))
  }

  // ------------------------- profiling + shards -------------------------

  test("profile audits nulls, distincts, and ranges in one shape") {
    val df = Seq((1L, Some("a"), 10.5), (2L, None, 2.0), (3L, Some("a"), 2.0))
      .toDF("id", "s", "v")
    val p = Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) == 3 && p("id").getLong(2) == 0 &&
      p("id").getLong(3) == 3 && p("id").getString(4) == "1")
    assert(p("s").getLong(2) == 1 && p("s").getLong(3) == 1 &&
      p("s").getString(5) == "a")
    assert(p("v").getLong(3) == 2 && p("v").getString(4) == "2.0")
    // approx mode: same shape, sketched distincts within HLL error
    val a = Profile.profile(df, approx = true).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(a("id") >= 2 && a("id") <= 4)
  }

  test("writeShards partitions by bin and returns an accurate manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val df = (1L to 100L).map(i => (i, i % 4, 10L)).toDF("id", "bin", "n_tok")
    val manifest = graft.sources.ShardWriter.writeShards(df, "bin", "n_tok", tmp)
      .collect()
    assert(manifest.length == 4)
    assert(manifest.forall(r => r.getLong(1) == 25 && r.getLong(2) == 250))
    // one directory per shard, readable back with partition pruning
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("bin=0", "bin=1", "bin=2", "bin=3"))
    val pruned = spark.read.parquet(tmp).filter(col("bin") === 2)
    assert(pruned.count() == 25)
  }

  test("writeShardsJsonl emits per-shard JSONL files and the same manifest") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val df = (1L to 60L).map(i => (i, i % 3, 5L, s"doc $i")).toDF("id", "bin", "n_tok", "text")
    val manifest = graft.sources.ShardWriter.writeShardsJsonl(df, "bin", "n_tok", tmp)
      .collect()
    assert(manifest.length == 3)
    assert(manifest.forall(r => r.getLong(1) == 20 && r.getLong(2) == 100))
    // the shard files ARE line-delimited JSON objects
    val shard0 = new java.io.File(s"$tmp/bin=0").listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(shard0.nonEmpty)
    val lines = scala.io.Source.fromFile(shard0.head).getLines().toSeq
    assert(lines.nonEmpty && lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // round-trips through the NDJSON ingest path
    val back = graft.sources.Ingest.fromJsonLines(spark, lines.mkString("\n"))
    assert(back.count() == lines.length)
    // all-null token column: JSON omits null fields entirely on disk; the
    // writer-schema read-back must still resolve the manifest's sum
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-jsonl2").toString
    val nulls = (1L to 6L).map(i => (i, i % 2, None: Option[Long]))
      .toDF("id", "bin", "n_tok")
    val m2 = graft.sources.ShardWriter.writeShardsJsonl(nulls, "bin", "n_tok", tmp2)
      .collect()
    assert(m2.length == 2 && m2.forall(r => r.isNullAt(2)))
  }

  // ------------------------- bucketed layout -------------------------

  test("bucketed tables join without any shuffle exchange") {
    import graft.sources.Bucketing
    val left = (1L to 500L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 500L).map(i => (i, i * 2.0)).toDF("k", "rv")
    Bucketing.writeBucketed(left, "bkt_left", "k", 4)
    Bucketing.writeBucketed(right, "bkt_right", "k", 4)
    // auto-broadcast off for both checks: tiny test frames would
    // broadcast-join either way, proving nothing about co-location
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.colocatedJoin(spark, "bkt_left", "bkt_right", "k")
      assert(joined.count() == 500)
      assert(!Bucketing.hasExchange(joined),
        "co-located bucketed join must plan without Exchange")
      // contrast: the same join on plain (unbucketed) frames shuffles
      assert(Bucketing.hasExchange(left.join(right, Seq("k"))))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
  }

  // ------------------------- bloom exclusion -------------------------

  test("excludeByBloom equals the exact anti-join even at high fpp") {
    val corpus = ((1L to 2000L).map(i => (Some(i), s"doc$i")) :+
      ((None: Option[Long], "nullid"))).toDF("id", "payload")
    val exclude = (1L to 2000L by 7).map(Tuple1(_)).toDF("xid")
    // fpp=0.3 forces false positives; the rescue join must absorb them
    val got = Dedup.excludeByBloom(corpus, "id", exclude, "xid", fpp = 0.3)
    val want = corpus.join(exclude.select(col("xid").as("id")), Seq("id"), "left_anti")
    assert(got.count() == want.count()) // null-id row kept, like the anti-join
    assert(got.select("payload").collect().map(_.getString(0)).toSet ==
      want.select("payload").collect().map(_.getString(0)).toSet)
    // an exclusion list with no non-null id (empty, all-null) excludes
    // nothing — Spark's bloom aggregate returns null there, which must
    // not surface as a NullPointerException
    val nullIds = Seq(Tuple1(None: Option[Long])).toDF("xid")
    for (noIds <- Seq(exclude.limit(0), nullIds))
      assert(Dedup.excludeByBloom(corpus, "id", noIds, "xid").count() ==
        corpus.count())
  }

  // ------------------------- decontamination -------------------------

  test("wordNgrams emits space-joined grams and empty array under n tokens") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, ""), (4L, null))
      .toDF("id", "text")
    val got = df.select(col("id"),
        Decontaminate.wordNgrams(col("text"), 3).as("g"))
      .orderBy("id").collect()
      .map(_.getAs[scala.collection.Seq[String]]("g").toSeq)
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty && got(2).isEmpty && got(3).isEmpty)
  }

  test("wordNgrams kernel is value-identical to the HOF formulation") {
    val df = docs.select(col("text"))
      .union(Seq("", "a b a b a b", "one two").toDF("text"))
    for (n <- Seq(2, 3, 8)) {
      val mismatches = df.select(
        Decontaminate.wordNgrams(col("text"), n).as("k"),
        Decontaminate.wordNgramsHof(col("text"), n).as("h"))
        .filter(not(col("k") === col("h"))).count()
      assert(mismatches == 0, s"kernel != HOF for n=$n")
      val dMism = df.select(
        Decontaminate.wordNgrams(col("text"), n, distinct = true).as("k"),
        array_distinct(Decontaminate.wordNgramsHof(col("text"), n)).as("h"))
        .filter(not(col("k") === col("h"))).count()
      assert(dMism == 0, s"distinct kernel != array_distinct(HOF) for n=$n")
    }
  }

  test("tokenChunks emits non-overlapping chunks with a final partial") {
    val df = Seq((1L, "a b c d e"), (2L, "a b"), (3L, "")).toDF("id", "text")
    val got = df.select(col("id"),
        Decontaminate.tokenChunks(col("text"), 2).as("c"))
      .orderBy("id").collect()
      .map(_.getAs[scala.collection.Seq[String]]("c").toSeq)
    assert(got(0) == Seq("a b", "c d", "e"))
    assert(got(1) == Seq("a b") && got(2).isEmpty)
  }

  test("dedupChunks keeps first corpus-wide chunk occurrence, rebuilds docs") {
    val df = Seq(
      (1L, "one two three four unique first tail piece"),  // chunks: 2x4 tokens
      (2L, "one two three four second doc own words"),     // first chunk dups doc 1
      (3L, "one two three four")                           // entirely duplicate
    ).toDF("doc_id", "text")
    val got = Dedup.dedupChunks(df, "doc_id", "text", chunkTokens = 4)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == ((1L, "one two three four unique first tail piece", 2L, 2L)))
    assert(got(1) == ((2L, "second doc own words", 1L, 2L)))
    assert(got(2) == ((3L, "", 0L, 1L)))
  }

  test("contaminated flags shared n-grams; decontaminate drops them") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text with no benchmark overlap at all"),
      (3L, "prefix words then the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "question: the quick brown fox jumps over the lazy dog ?")
    ).toDF("doc_id", "text")
    val hits = Decontaminate.contaminated(train, eval, "doc_id", "text", n = 8)
      .orderBy("id").collect()
    // docs 1 and 3 share ≥1 distinct 8-gram with eval; doc 2 doesn't
    assert(hits.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(hits.forall(_.getLong(1) >= 1L))
    val clean = Decontaminate.decontaminate(train, eval, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(clean == Seq(2L))
  }

  // ------------------------- repetition features -------------------------

  test("repetitionFeatures computes dup-word and top-bigram fractions") {
    val df = Seq(
      (1L, "spam spam spam spam"),        // 4 tokens, 1 distinct; bigram "spam spam" 3/3
      (2L, "all words here are distinct"),// no repetition
      (3L, "x"),                          // no bigrams → 0.0
      (4L, "")                            // empty → 0 tokens, all zero
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionFeatures(df, "doc_id", "text")
      .orderBy("id").collect()
    def row(i: Int) = (got(i).getLong(1), got(i).getDouble(2), got(i).getDouble(3))
    assert(row(0) == ((4L, 0.75, 1.0)))
    assert(row(1) == ((5L, 0.0, 0.25)))  // 4 bigrams each once → 1/4
    assert(row(2) == ((1L, 0.0, 0.0)))
    assert(row(3) == ((0L, 0.0, 0.0)))
  }

  // ------------------------- embeddings -------------------------

  test("quantizeInt8 round-trips within one quantization step") {
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "v")
    val rows = Embeddings.quantizeInt8(df, "vec_id", "v").orderBy("id").collect()
    val q1 = rows(0).getAs[scala.collection.Seq[Int]]("q")
    val s1 = rows(0).getDouble(1)
    assert(q1 == Seq(127, -63, 32, 0)) // scale = 1/127; -63.5 rounds half-UP (toward +inf) → -63
    assert(math.abs(s1 - 1.0 / 127) < 1e-9)
    assert(rows(1).getDouble(1) == 0.0 &&
      rows(1).getAs[scala.collection.Seq[Int]]("q").forall(_ == 0))
    // reconstruction error bounded by scale/2 per element
    assert(q1.zip(Seq(1.0, -0.5, 0.25, 0.0)).forall { case (q, v) =>
      math.abs(q * s1 - v) <= s1 / 2 + 1e-12 })
  }

  test("labelOutliers ranks the planted outlier first") {
    // label 0: tight cluster around (1,0) plus one vector near (0,1)
    val vecs = (1L to 9L).map(i =>
      (i, 0, Array(1.0f, (i * 0.01).toFloat))) :+ ((10L, 0, Array(0.05f, 1.0f)))
    val df = vecs.toDF("vec_id", "label", "v")
    val top = Embeddings.labelOutliers(df, "vec_id", "v", "label", k = 3)
      .orderBy(col("dist").desc).collect()
    assert(top.length == 3)
    assert(top.head.getLong(0) == 10L) // the planted outlier is farthest
    assert(top.head.getDouble(2) > 0.2 && top(1).getDouble(2) < 0.05)
  }

  // ------------------------- events props -------------------------

  test("propsRollup parses declared-schema JSON and counts nulls apart") {
    val df = Seq(
      (1L, "click", 2.0, """{"k": 5}"""),
      (2L, "click", 3.0, """{"k": 7}"""),
      (3L, "click", 1.0, """{"other": 1}"""),   // k absent → null
      (4L, "view", 4.0, "not json"),            // unparsable → null
      (5L, "view", 6.0, null)                   // null props → null
    ).toDF("event_id", "event_type", "value", "props")
    val got = graft.streaming.EventStreams.propsRollup(df)
      .orderBy("event_type").collect()
    assert(got(0).getString(0) == "click" && got(0).getLong(1) == 3 &&
      got(0).getLong(2) == 2 && got(0).getLong(3) == 12 &&
      got(0).getDouble(4) == 6.0)
    assert(got(1).getString(0) == "view" && got(1).getLong(2) == 0 &&
      got(1).isNullAt(3))
  }

  test("propsRollup total_value keeps sub-cent precision (decimal accumulation)") {
    import spark.implicits._
    // 0.015 + 0.015 = 0.03 exactly in decimal(38,6); the earlier
    // integer-cents form would quantize each row to 2 cents → 0.04
    val df = Seq(
      (1L, "tick", 0.015, """{"k": 1}"""),
      (2L, "tick", 0.015, """{"k": 2}""")
    ).toDF("event_id", "event_type", "value", "props")
    val total = graft.streaming.EventStreams.propsRollup(df)
      .select("total_value").collect().head.getDouble(0)
    assert(total == 0.03)
  }

  // ------------------------- token budget -------------------------

  test("tokenBudgetByHash caps each source at the budget and nests") {
    val df = (1L to 100L).map(i => (i, s"s${i % 2}", "five words of text here"))
      .toDF("id", "source", "text")
    val nTok = TextOps.tokenCount(col("text"))
    val got = Sampling.tokenBudgetByHash(df, "id", "source", nTok, budget = 25)
    val bySrc = got.groupBy("source").agg(
        count(lit(1)).as("n"), max("__cum_tokens").as("mx")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 5 tokens/doc → exactly 5 docs per source fit a 25-token budget
    assert(bySrc.values.forall { case (n, mx) => n == 5 && mx == 25 })
    // a bigger budget strictly extends the smaller sample
    val ids25 = got.select("id").collect().map(_.getLong(0)).toSet
    val ids50 = Sampling.tokenBudgetByHash(df, "id", "source", nTok, budget = 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids25.subsetOf(ids50))
  }

  test("two-level token-budget prefix sum equals the single global window") {
    import org.apache.spark.sql.expressions.Window
    // variable token counts, a null source, and a tiny shard size so the
    // two-level path crosses many shard boundaries
    val df = ((1L to 300L).map(i =>
      (i, if (i % 5 == 0) null else s"s${i % 3}", (i % 7 + 1).toString)))
      .toDF("id", "source", "toks")
    val nTok = col("toks").cast("int")
    val sharded = Sampling.tokenBudgetByHash(df, "id", "source", nTok,
        budget = 60, shardSize = 1000L) // hash space 1e9 → ~1e6 shards hit
      .select(col("id"), col("__cum_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: one global window per source (fine at test scale)
    val h = pmod(pmod(col("id"), lit(1000000007L)) * lit(654435747L), lit(1000000007L))
    val w = Window.partitionBy(col("source")).orderBy(h, col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val global = df.withColumn("__cum", sum(nTok.cast("long")).over(w))
      .filter(col("__cum") <= 60)
      .select(col("id"), col("__cum"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sharded == global)
    assert(global.nonEmpty)
  }

  // ------------------------- mixture sampling -------------------------

  test("mixtureByHash keeps per-source fractions and nests samples") {
    val df = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("id", "source")
    val w = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    val got = Sampling.mixtureByHash(df, "id", "source", w, default = 0.2)
    val bySrc = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == 1000L)                        // w=1 keeps all
    assert(!bySrc.contains("src2"))                       // w=0 keeps none
    assert(math.abs(bySrc("src1") - 500L) < 120)          // ≈ half
    assert(math.abs(bySrc.getOrElse("src3", 0L) - 200L) < 80) // default 0.2
    // nesting: the 0.25 sample of src1 is a subset of the 0.5 sample
    val small = Sampling.mixtureByHash(df, "id", "source",
      Map("src1" -> 0.25), default = 0.0)
      .select("id").collect().map(_.getLong(0)).toSet
    val large = got.filter(col("source") === "src1")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(large))
  }

  test("asOfJoin picks the latest right row at-or-before each left time") {
    val left = Seq((1L, 5L, "l5"), (1L, 10L, "l10"), (1L, 25L, "l25"),
                   (2L, 50L, "l50")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0), (3L, 1L, 999.0))
      .toDF("k", "t", "v")
    val out = Joins.asOfJoin(left, right, "k", "t", Seq("v"))
      .orderBy("k", "t").collect()
      .map(r => (r.getAs[String]("tag"), Option(r.get(r.fieldIndex("v")))))
    assert(out.toSeq == Seq(
      ("l5", None),          // nothing at or before t=5
      ("l10", Some(100.0)),  // tie at t=10 matches (<=)
      ("l25", Some(200.0)),  // latest of 10, 20
      ("l50", None)))        // key 2 has no right rows
  }

  test("asOfJoin keeps every left column and handles duplicate left times") {
    val left = Seq((1L, 10L, "a"), (1L, 10L, "b")).toDF("k", "t", "tag")
    val right = Seq((1L, 9L, 7.0)).toDF("k", "t", "v")
    val out = Joins.asOfJoin(left, right, "k", "t", Seq("v"))
    assert(out.columns.toSeq == Seq("k", "t", "tag", "v"))
    assert(out.count() == 2)
    assert(out.select("v").collect().forall(_.getDouble(0) == 7.0))
  }

  test("temporal ops accept TIMESTAMP_NTZ time columns (micro embedding)") {
    // the driver's round-10 fixtures surface parquet timestamp_us as NTZ
    // (earlier fixtures were timestamp_ns → LONG): the three temporal
    // operators must produce the same rows for an NTZ time column as for
    // the equivalent LTZ one — sub-second instants included (the micro
    // embedding must NOT coarsen to seconds)
    import org.apache.spark.sql.types.TimestampNTZType
    // micro-distinct instants (5.0000s, 5.0005s, 25s) built with
    // timestamp_micros so sub-second precision genuinely exists
    def tsUs(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, timestamp_micros(col(c)))
    val leftT = tsUs(Seq((1L, 5000000L, "l5"), (1L, 5000500L, "l5b"),
      (1L, 25000000L, "l25")).toDF("k", "t", "tag"), "t")
    val rightT = tsUs(Seq((1L, 5000500L, 100.0), (1L, 20000000L, 200.0))
      .toDF("k", "t", "v"), "t")
    def asNtz(df: org.apache.spark.sql.DataFrame, c: String = "t") =
      df.withColumn(c, col(c).cast(TimestampNTZType))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("tag", "v").collect()
        .map(r => (r.getString(0), Option(r.get(1)))).toSet
    val ltz = Joins.asOfJoin(leftT, rightT, "k", "t", Seq("v"),
      granule = Some(777L)) // micros: forces the segmented branch
    val ntz = Joins.asOfJoin(asNtz(leftT), asNtz(rightT), "k", "t", Seq("v"),
      granule = Some(777L))
    assert(rowsOf(ltz) == rowsOf(ntz))
    assert(rowsOf(ntz) == Set(("l5", None), ("l5b", Some(100.0)),
      ("l25", Some(200.0)))) // 5.0000s misses the 5.0005s right: micros kept

    // a seconds-coarsened embedding would pull 5.0000s inside this
    // interval (both floor to 5s); the micro embedding must not
    val intervals = tsUs(tsUs(Seq(("w", 5000200L, 21000000L))
      .toDF("name", "s", "e"), "s"), "e")
    val rj = Joins.rangeJoin(asNtz(leftT),
      asNtz(asNtz(intervals, "s"), "e"),
      "t", "s", "e", Seq("name"), granule = 1000000L)
    assert(rj.select("tag").collect().map(_.getString(0)).toSet
      == Set("l5b"))

    val evsL = tsUs(Seq((1L, 1000000L, 1.0), (1L, 3000000L, 1.0),
      (1L, 10000000L, 1.0)).toDF("user_id", "ts", "value"), "ts")
    val evsN = evsL.withColumn("ts", col("ts").cast(TimestampNTZType))
    def sess(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.EventStreams.sessionizeBatch(df, gapSeconds = 5)
        .select("n_events").collect().map(_.getLong(0)).sorted.toSeq
    assert(sess(evsL) == sess(evsN) && sess(evsN) == Seq(1L, 2L))
  }

  test("redactPii counts and replaces emails, phones, ips") {
    val df = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org or call +1 555-123-4567"),
      (2L, "server at 192.168.0.1 and 10.0.0.7"),
      (3L, "nothing here")).toDF("id", "text")
    val out = TextOps.redactPii(df, "text").orderBy("id").collect()
    assert(out(0).getAs[Number]("n_emails").intValue == 1)
    assert(out(0).getAs[Number]("n_phones").intValue == 1)
    assert(out(0).getAs[String]("redacted") ==
      "mail me at <EMAIL> or call <PHONE>")
    assert(out(1).getAs[Number]("n_ips").intValue == 2)
    assert(out(1).getAs[String]("redacted") == "server at <IP> and <IP>")
    assert(out(2).getAs[String]("redacted") == "nothing here")
  }

  test("charEntropy matches a driver-side reference and handles edges") {
    def ref(s: String): Double = {
      if (s.isEmpty) 0.0
      else {
        val n = s.length.toDouble
        val e = s.groupBy(identity).values
          .map(g => g.length / n).toSeq.sorted
          .map(p => -p * (math.log(p) / math.log(2.0))).sum
        math.floor(e * 10000.0 + 0.5) / 10000.0
      }
    }
    val texts = Seq("", "aaaa", "ab", "abcd", "hello world", "aabbccdd!? ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = df.select(col("id"), TextOps.charEntropy(col("t")).as("e"))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    val expect = texts.map(ref)
    got.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"$g vs $e") }
    assert(got(0) == 0.0 && got(1) == 0.0) // empty and single-char → 0
    assert(got(2) == 1.0 && got(3) == 2.0) // uniform 2 and 4 symbols
  }

  test("groupQuantiles: exact interpolated quantiles per group") {
    val df = (1L to 100L).map(i => (if (i <= 40) "a" else "b", i)).toDF("g", "v")
    val out = Profile.groupQuantiles(df, "g", "v", Seq(0.0, 0.5, 1.0))
      .orderBy("g", "quantile").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      ("a", 0.0, 1.0), ("a", 0.5, 20.5), ("a", 1.0, 40.0),
      ("b", 0.0, 41.0), ("b", 0.5, 70.5), ("b", 1.0, 100.0)))
  }

  test("dedupAgainst drops rows whose fingerprint exists in the corpus") {
    val corpus = Seq((1L, "The Quick  Brown fox"), (2L, "something else"))
      .toDF("id", "text")
    val batch = Seq((10L, "the quick brown fox"),  // dup modulo normalization
                    (11L, "a new document"),
                    (12L, "SOMETHING ELSE")).toDF("id", "text")
    val out = Dedup.dedupAgainst(batch, "text", corpus, "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(11L))
  }

  test("minhashPairsAgainst flags only cross-side near-dups; drop admits the rest") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps on running all day long"),
      (2L, "pack my box with five dozen liquor jugs for the long journey back home"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and keeps on running all day long tonight"),
      (11L, "completely unrelated words about spark shuffles and broadcast joins at scale"),
      (12L, "pack my box with five dozen liquor jugs for the long journey back home"))
      .toDF("id", "text")
    val pairs = Dedup.minhashPairsAgainst(batch, "id", "text",
      corpus, "id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.keySet == Set(10L, 12L))
    assert(pairs(10L) == 1L && pairs(12L) == 2L)
    // corpus-internal near-dups are never emitted: both sides in one
    // bucket but same-side pairs filtered (corpus has none here anyway)
    val admitted = Dedup.dropNearDuplicatesAgainst(batch, "id", "text",
      corpus, "id", "text", threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(11L))
  }

  test("splitByHash is exhaustive, disjoint, and nests with fractionByHash") {
    val df = (0L until 2000L).map(i => (i, i)).toDF("id", "v")
    val out = Sampling.splitByHash(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test")) // no null split
    assert(counts.values.sum == 2000L)
    assert(math.abs(counts("train") - 1600L) < 120)
    // consistency: the 0.8 fraction sample IS the train split
    val frac = Sampling.fractionByHash(df, "id", 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    val train = out.filter(col("split") === "train")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(frac == train)
    // under-allocated weights leave rows unassigned (null split)
    val partial = Sampling.splitByHash(df, "id", Seq("train" -> 0.5))
    assert(partial.filter(col("split").isNull).count() > 0)
  }

  test("splitLeakFreeExact: classes never straddle, singletons keep splitByHash's label") {
    val splits = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    // 300 distinct texts; ids 1000-1299 duplicate them (whitespace/case
    // variants normalize equal), id 2000 duplicates text 0 a second time
    val base = (0L until 300L).map(i => (i, s"doc body $i"))
    val dups = (0L until 300L).map(i => (i + 1000L, s"  DOC  body $i "))
    val df = (base ++ dups :+ (2000L, "doc body 0")).toDF("id", "text")
    val out = Sampling.splitLeakFreeExact(df, "id", "text", splits)
    // every class is split-pure: a duplicate's label equals its base's
    val byText = out.select(col("id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 300L).foreach { i =>
      assert(byText(i + 1000L) == byText(i), s"class $i straddles")
    }
    assert(byText(2000L) == byText(0L))
    // singletons (none here — make one) keep the plain hash label
    val solo = Sampling.splitLeakFreeExact(
      Seq((42L, "unique text")).toDF("id", "text"), "id", "text", splits)
      .select("split").head().getString(0)
    val plain = Sampling.splitByHash(
      Seq((42L, "unique text")).toDF("id", "text"), "id", splits)
      .select("split").head().getString(0)
    assert(solo == plain)
    // the class hashes on its MIN id: the class of (0, 1000, 2000) gets
    // id 0's plain label
    val plain0 = Sampling.splitByHash(df.filter(col("id") === 0L), "id", splits)
      .select("split").head().getString(0)
    assert(byText(0L) == plain0)
  }

  test("splitByClass: components share a split, unpaired ids keep the plain label") {
    val splits = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    val df = (0L until 100L).map(i => (i, i)).toDF("id", "v")
    // one component {3, 7, 55}, labeled by its min id 3
    val clusters = Seq((3L, 3L), (7L, 3L), (55L, 3L)).toDF("id", "cluster")
    val out = Sampling.splitByClass(df, "id", clusters, splits)
    val labels = out.select(col("id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val plain = Sampling.splitByHash(df, "id", splits)
      .select(col("id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(labels(3L) == plain(3L) && labels(7L) == plain(3L) &&
      labels(55L) == plain(3L))
    (0L until 100L).filterNot(Set(3L, 7L, 55L)).foreach { i =>
      assert(labels(i) == plain(i), s"unpaired $i re-labeled")
    }
  }

  test("hash samplers fail fast on non-integral id columns") {
    // orderHash embeds the id via cast("long"): a string id hashes to
    // NULL on every row — an all-null split / silently empty sample.
    // Every hash-keyed entry must reject it statically instead.
    val sdf = Seq(("a", "t1", "s1", 1.0)).toDF("id", "text", "src", "w")
    val splits = Seq("train" -> 1.0)
    def bad(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("integral id column"), e.getMessage)
    }
    bad(Sampling.splitByHash(sdf, "id", splits))
    bad(Sampling.splitLeakFreeExact(sdf, "id", "text", splits))
    bad(Sampling.splitByClass(sdf, "id",
      Seq((1L, 1L)).toDF("id", "cluster"), splits))
    bad(Sampling.splitByClass(Seq((1L, "x")).toDF("id", "text"), "id",
      Seq((1L, "c")).toDF("id", "cluster"), splits)) // string cluster labels
    bad(Sampling.splitByClass(Seq((1L, "x")).toDF("id", "text"), "id",
      Seq(("1", 1L)).toDF("id", "cluster"), splits)) // string clusters JOIN id
    // the budget selectors id-div shard rather than hash, but the same
    // static guard applies (a string id would coerce the shard division)
    bad(Sampling.budgetSelect(sdf, "id", "w", lit(1L), 10L))
    bad(Sampling.budgetSelectBySource(sdf, "id", "src", "w", lit(1L),
      Map("s1" -> 10L)))
    bad(Sampling.fractionByHash(sdf, "id", 0.5))
    bad(Sampling.stratifiedTopK(sdf, "src", "id", 1))
    bad(Sampling.weightedByHash(sdf, "id", "w", 1))
    bad(Sampling.mixtureByHash(sdf, "id", "src", Map("s1" -> 0.5)))
    bad(Sampling.mixtureEpochsByHash(sdf, "id", "src", Map("s1" -> 1.5)))
  }

  test("topKByScore keeps k best per group with id tie-break") {
    val df = Seq((1L, "g1", 0.9), (2L, "g1", 0.9), (3L, "g1", 0.5),
                 (4L, "g2", 0.1)).toDF("id", "grp", "score")
    val out = Sampling.topKByScore(df, "grp", "id", "score", 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 4L)) // tie at 0.9 → lower ids win; g2 keeps its 1
  }

  test("bm25 ranks term-dense docs first and drops non-matching docs") {
    val df = Seq(
      (1L, "hash join hash join hash"),
      (2L, "hash table scan with a long tail of other words diluting it"),
      (3L, "nothing relevant here"),
      (4L, "join")).toDF("id", "text")
    val out = Search.bm25(df, "id", "text", "hash join", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(!out.map(_._1).contains(3L)) // no query term → dropped
    assert(out.head._1 == 1L)           // both terms, dense, short
    assert(out.forall(_._2 > 0))
    // already sorted score desc, id asc
    assert(out == out.sortBy(t => (-t._2, t._1)))
    // k truncates
    assert(Search.bm25(df, "id", "text", "hash join", k = 2).count() == 2)
    // repeated query terms dedup: identical result
    val dup = Search.bm25(df, "id", "text", "join hash join", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(dup == out)
  }

  test("bm25Batch with a single query equals single-query bm25") {
    val docs = Seq((1L, "hash join hash"), (2L, "hash scan"),
      (3L, "nothing relevant"), (4L, "join join hash and more words"))
      .toDF("id", "text")
    // 2-term query: double addition is commutative, so the batch plan's
    // arbitrary sum order must yield bit-identical rounded scores
    val qs = Seq((7L, "hash join")).toDF("qid", "qtext")
    val batch = Search.bm25Batch(docs, "id", "text", qs, "qid", "qtext", k = 10)
      .select("id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val single = Search.bm25(docs, "id", "text", "hash join", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(batch == single && batch.nonEmpty)
  }

  test("bm25Batch 3-term scores use the sorted-term fold (layout-deterministic)") {
    val docs = Seq((1L, "hash join filter hash"), (2L, "hash scan filter"),
      (3L, "join filter join"), (4L, "hash join filter join hash filter"))
      .toDF("id", "text")
    val qs = Seq((9L, "hash join filter")).toDF("qid", "qtext")
    def run(d: org.apache.spark.sql.DataFrame) =
      Search.bm25Batch(d, "id", "text", qs, "qid", "qtext", k = 10)
        .select("id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val a = run(docs)
    // physical layout must not change a single bit: contributions fold in
    // sorted-term order regardless of partial-aggregation arrival order
    assert(run(docs.repartition(13)) == a)
    // pin the fold to the exact ordered float sequence the oracle replays:
    // per (doc): fold over terms sorted lexicographically (filter<hash<join)
    val toks = Map(1L -> Seq("hash", "join", "filter", "hash"),
      2L -> Seq("hash", "scan", "filter"), 3L -> Seq("join", "filter", "join"),
      4L -> Seq("hash", "join", "filter", "join", "hash", "filter"))
    val n = toks.size.toDouble
    val sumdl = toks.values.map(_.length).sum.toDouble
    val avgdl = sumdl / n
    val terms = Seq("filter", "hash", "join") // sorted
    val df = terms.map(t => t -> toks.values.count(_.contains(t)).toDouble).toMap
    val expected = toks.map { case (id, tk) =>
      val score = terms.foldLeft(0.0) { (acc, t) =>
        val tf = tk.count(_ == t).toDouble
        if (tf == 0) acc else {
          val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
          acc + idf * tf * (1.2 + 1) /
            (tf + 1.2 * (0.25 + 0.75 * tk.length.toDouble / avgdl))
        }
      }
      id -> math.floor(score * 10000.0 + 0.5) / 10000.0
    }.filter(_._2 > 0).toSeq.sortBy(_._1)
    assert(a == expected)
  }

  test("bm25Batch keeps k per query independently") {
    val docs = Seq((1L, "alpha alpha"), (2L, "alpha"), (3L, "beta beta"),
      (4L, "beta")).toDF("id", "text")
    val qs = Seq((1L, "alpha"), (2L, "beta")).toDF("qid", "qtext")
    val out = Search.bm25Batch(docs, "id", "text", qs, "qid", "qtext", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 3L)) // densest doc per query
  }

  test("quantileBandFilter keeps per-group bands, not a global one") {
    // group g1: values 1..10 → [p10,p90] keeps 2..9-ish; group g2 is
    // 100..1000 — a global band would drop all of one group
    val rows = (1 to 10).map(i => (i.toLong, "g1", i.toLong * 10)) ++
      (1 to 10).map(i => (100L + i, "g2", i.toLong * 1000))
    val df = rows.toDF("id", "grp", "v")
    val out = Sampling.quantileBandFilter(df, "grp", "v", 0.1, 0.9)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val byGrp = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // p10 of 10..100 step 10 = 19, p90 = 91 (interpolated) → keep 20..90
    assert(byGrp("g1") == (2 to 9).map(_ * 10L))
    assert(byGrp("g2") == (2 to 9).map(_ * 1000L))
    // column order preserved
    assert(Sampling.quantileBandFilter(df, "grp", "v", 0.1, 0.9)
      .columns.toSeq == Seq("id", "grp", "v"))
    // a NULL group is a legal group: its rows filter against their own
    // band instead of vanishing in the join back
    val withNull = rows ++ (1 to 10).map(i => (200L + i, null: String, i.toLong * 7))
    val nOut = Sampling.quantileBandFilter(withNull.toDF("id", "grp", "v"),
      "grp", "v", 0.1, 0.9)
      .filter(col("grp").isNull).collect().map(_.getLong(2)).sorted.toSeq
    assert(nOut == (2 to 9).map(_ * 7L))
  }

  test("pmiCollocations ranks exclusive pairs above anti-correlated ones") {
    // a+b and c+d are exclusive partners; a+c co-occur BELOW chance
    val docs = Seq(
      (1L, "a b x"), (2L, "a b y"), (3L, "c d x"),
      (4L, "c d y"), (5L, "a c"), (6L, "a c"))
      .toDF("id", "text")
    val out = TextOps.pmiCollocations(docs, "text", k = 10, minPairDocs = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    // N=6, n_a=4 n_b=2 n_c=4 n_d=2: pmi(a,b)=pmi(c,d)=ln(2·6/8)=0.4055,
    // pmi(a,c)=ln(2·6/16)=-0.2877; singleton pairs (a,x) etc. drop
    assert(out.map(_._1).toSeq == Seq(("a", "b"), ("c", "d"), ("a", "c")))
    val m = out.toMap
    assert(m(("a", "b")) == ((2L, 0.4055)))
    assert(m(("a", "c")) == ((2L, -0.2877)))
  }

  test("pmiCollocations and tokenDivergence tolerate dotted and map-typed bystander columns") {
    // the spread key must skip non-hashable columns and exact-quote names
    val docs = Seq(
      ("web", "a b x", Map("k" -> "v"), 1L), ("web", "a b y", Map("k" -> "v"), 2L),
      ("book", "c d x", Map("k" -> "v"), 3L), ("book", "c d y", Map("k" -> "v"), 4L))
      .toDF("src", "text", "props", "row.id")
    assert(TextOps.pmiCollocations(docs, "text", k = 5).collect().nonEmpty)
    assert(Profile.tokenDivergence(docs, "src", "text").count() == 2)
  }

  test("pmiCollocations caps degenerate documents instead of failing") {
    // one 50k-distinct-token doc: uncapped O(d²) expansion would emit
    // 1.25 billion pairs from this single row (and the kernel hard-fails
    // past 16384 distinct tokens); the cap truncates to the alphabetical
    // prefix and the query completes with bounded output
    val monster = (0 until 50000).map(i => f"t$i%05d").mkString(" ")
    val docs = Seq((1L, monster), (2L, monster), (3L, "a b")).toDF("id", "text")
    val out = TextOps.pmiCollocations(docs, "text", k = 100000,
      minPairDocs = 2, maxDocTokens = 64)
    val rows = out.collect()
    assert(rows.length == 64 * 63 / 2) // capped monster pairs; (a,b) is 1-doc
    // the surviving pairs are over the sorted-prefix tokens only
    assert(rows.forall(r => r.getString(0) < "t00064" && r.getString(1) < "t00064"))
    // caps outside the kernel's hard bound are rejected up front
    intercept[IllegalArgumentException] {
      TextOps.pmiCollocations(docs, "text", k = 5, maxDocTokens = 1 << 20)
    }
  }

  test("dedupLines keeps each non-blank line's first corpus occurrence; blanks survive") {
    val docs = Seq(
      (1L, "alpha one\n\nshared footer"),
      (2L, "beta two\nshared footer\nbeta extra"),
      (3L, "alpha one\ngamma three"),
      (4L, ""),
      (5L, "repeat me\nrepeat me")).toDF("id", "text")
    val got = Dedup.dedupLines(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("alpha one\n\nshared footer", 3L, 3L)))
    assert(got(2L) == (("beta two\nbeta extra", 2L, 3L)))  // footer first seen in doc 1
    assert(got(3L) == (("gamma three", 1L, 2L)))           // "alpha one" deduped
    assert(got(4L) == (("", 1L, 1L)))                      // empty doc: its blank line survives
    assert(got(5L) == (("repeat me", 1L, 2L)))             // within-doc repeat dropped too
  }

  test("scrubCommonLines drops corpus-frequent lines from every doc; rare lines and blanks stay") {
    val docs = Seq(
      (1L, "footer line\nunique one\n\nfooter line"), // twice here: counts ONCE
      (2L, "footer line\nunique two"),
      (3L, "footer line\nshared pair"),
      (4L, "shared pair\nunique four"),
      (5L, null.asInstanceOf[String]),
      (6L, "footer line")).toDF("id", "text")
    val got = Dedup.scrubCommonLines(docs, "id", "text", minDocs = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "footer line" spans docs {1,2,3,6} = 4 >= 3: gone from ALL of them
    // (within-doc repetition in doc 1 counted one doc, scrubbed twice);
    // "shared pair" spans {3,4} = 2 < 3: kept everywhere
    assert(got(1L) == (("unique one\n", 2L, 4L))) // blank line survives
    assert(got(2L) == (("unique two", 1L, 2L)))
    assert(got(3L) == (("shared pair", 1L, 2L)))
    assert(got(4L) == (("shared pair\nunique four", 2L, 2L)))
    assert(got(5L) == (("", 1L, 1L)))             // null text: one blank line
    assert(got(6L) == (("", 0L, 1L)))             // all-boilerplate doc empties
    // deterministic under repartitioning
    val re = Dedup.scrubCommonLines(docs.repartition(5), "id", "text", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(re.sameElements(got.toSeq.sortBy(_._1)
      .map { case (id, (t, k, _)) => (id, t, k) }))
    // the 1-would-scrub-everything foot-gun is rejected
    intercept[IllegalArgumentException] {
      Dedup.scrubCommonLines(docs, "id", "text", minDocs = 1)
    }
  }

  test("weightedByHash: deterministic, weight-proportional, TakeOrdered plan") {
    val rows = (1L to 500L).map(i => (i, 1.0)) ++ (501L to 1000L).map(i => (i, 100.0))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedByHash(df, "id", "w", k = 100)
    // 100x weights dominate the draw
    val heavy = got.filter(col("id") > 500).count()
    assert(heavy > 80, s"heavy group drew only $heavy of 100")
    // deterministic under repartitioning (the sample IS the definition)
    val again = Sampling.weightedByHash(df.repartition(7), "id", "w", k = 100)
    assert(got.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
    // null / non-positive / NaN weights never selected (NaN orders above
    // every double in Spark, so it would pass a bare > 0 filter AND its
    // NaN rank key would sort ahead of every real row)
    val withBad = df.unionByName(
        Seq((2000L, 0.0), (2001L, -5.0), (2003L, Double.NaN)).toDF("id", "w"))
      .unionByName(Seq(Tuple1(2002L)).toDF("id").withColumn("w", lit(null).cast("double")))
    val ids = Sampling.weightedByHash(withBad, "id", "w", k = 2000)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids(2000L) && !ids(2001L) && !ids(2002L) && !ids(2003L) && ids.size == 1000)
    // partial top-k plan: TakeOrdered, no global sort
    assert(got.queryExecution.executedPlan.toString.contains("TakeOrdered"))
  }

  test("scrubContaminated excises eval-matched spans, keeps the rest") {
    val train = Seq(
      (1L, "keep these words then the secret eval answer phrase appears here and more text follows after"),
      (2L, "totally clean document nothing shared at all")).toDF("id", "text")
    val eval = Seq((9L, "the secret eval answer phrase appears here and")).toDF("id", "text")
    val got = Decontaminate.scrubContaminated(train, eval, "id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(2L) == (("totally clean document nothing shared at all", 0L)))
    assert(got(1L) == (("keep these words then more text follows after", 8L)))
  }

  test("chunkText windows overlap with stride and keep the tail") {
    val docs = Seq(
      (1L, "a b c d e f g"), // 3-token windows, stride 2 → starts 0, 2, 4
      (2L, "x y"),           // shorter than one window → the whole doc
      (3L, ""),              // no chunks
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = TextOps.chunkText(docs, "id", "text", chunkTokens = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSet == Set(
      (1L, 0L, "a b c", 3L), (1L, 1L, "c d e", 3L), (1L, 2L, "e f g", 3L),
      (2L, 0L, "x y", 2L)))
    intercept[IllegalArgumentException] {
      TextOps.chunkText(docs, "id", "text", chunkTokens = 3, stride = 4)
    }
    // map-side: the explode is the only expansion — zero exchanges
    assert(!TextOps.chunkText(docs, "id", "text", 3, 2)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("oovRate counts occurrences outside the corpus head vocabulary") {
    val docs = Seq(
      (1L, "the the the cat"),
      (2L, "the dog runs"),
      (3L, "")).toDF("id", "text")
    // vocab 2 = "the" (4 occurrences) + count-1 tie broken to "cat" (asc)
    val got = TextOps.oovRate(docs, "id", "text", vocabSize = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 0L, 0.0)))
    assert(got(2L) == ((3L, 2L, 0.6667))) // dog, runs OOV
    assert(got(3L) == ((0L, 0L, 0.0)))
  }

  test("filterLines applies the C4 line rules map-side") {
    val docs = Seq(
      (1L, "A good long sentence right here.\nplease enable javascript now.\nok\nno punct at all here\nShort.\n\nAnother fine sentence stays!"),
      (2L, "We value your COOKIE choices greatly.\nRegular text that ends properly?")).toDF("id", "text")
    val got = TextOps.filterLines(docs, "text").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_lines")))).toMap
    // doc 1: javascript line banned; "ok" too short even with punct off the
    // table; unpunctuated line dropped; "Short." under 3 words; blank dropped
    assert(got(1L) == (("A good long sentence right here.\nAnother fine sentence stays!", 2L, 7L)))
    // doc 2: banned match is case-insensitive
    assert(got(2L) == (("Regular text that ends properly?", 1L, 2L)))
    // relaxed knobs: no punct requirement, no bans, 1-word minimum
    val loose = TextOps.filterLines(docs, "text", minWords = 1,
      requireTerminalPunct = false, banned = Seq.empty)
      .filter(col("id") === 1).head
    assert(loose.getAs[Long]("n_kept") == 6L) // only the blank line drops
    // entirely map-side: zero exchanges at any corpus size
    assert(!TextOps.filterLines(docs, "text")
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("gramNovelty credits the lowest-id owner of each gram") {
    val docs = Seq(
      (1L, "a b c d"),   // grams (n=3): "a b c", "b c d" — both first here
      (2L, "a b c d"),   // same grams, later id → novelty 0
      (3L, "x y z w"),   // unique → novelty 1
      (4L, "ab"))        // too short for grams → 0 grams, novelty 0
      .toDF("id", "text")
    val got = Dedup.gramNovelty(docs, "id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 0L, 0.0)))
    assert(got(3L) == ((2L, 2L, 1.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("tokenDivergence: identical groups diverge 0, skewed group > 0") {
    val docs = Seq(
      (1L, "s1", "a b a b"), (2L, "s1", "a b a b"),
      (3L, "s2", "a b a b"),            // s1 == s2 == corpus-ish
      (4L, "s3", "z z z z z z z z"))    // s3 far from corpus
      .toDF("id", "src", "text")
    val got = Profile.tokenDivergence(docs, "src", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("s1")._1 == 8 && got("s2")._1 == 4 && got("s3")._1 == 8)
    // s1/s2 share the corpus a:b ratio exactly except for s3's z mass —
    // their kl is small but positive; s3's is much larger
    assert(got("s3")._2 > got("s1")._2 && got("s3")._2 > 0.5)
    assert(got("s1")._2 == got("s2")._2) // identical distributions
    // deterministic across layout
    val again = Profile.tokenDivergence(docs.repartition(7), "src", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(again == got.map { case (k, v) => k -> v._2 })
  }

  test("scrubDuplicatedSpans excises covered tokens; unique docs untouched") {
    // the 3-gram "x y z" appears in docs 1 and 2; "p q r" only in doc 3
    val docs = Seq(
      (1L, "a b x y z c"),
      (2L, "x y z d e f"),
      (3L, "p q r s t u"),
      (4L, "m x y z x y z w")) // within-doc repeat also scrubs
      .toDF("id", "text")
    val out = Dedup.scrubDuplicatedSpans(docs, "id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("a b c", 3L))
    assert(out(2L) == ("d e f", 3L))
    assert(out(3L) == ("p q r s t u", 0L))
    // doc 4: dup 3-grams "x y z" (twice, overlapping family with
    // "y z x"/"z x y" single-occurrence grams kept out) cover positions
    // of both occurrences; "m" and "w" survive
    assert(out(4L)._1 == "m w" && out(4L)._2 == 6L)
    // layout determinism
    val again = Dedup.scrubDuplicatedSpans(docs.repartition(7), "id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(again == out)
  }

  test("tfidfKeywords surfaces document-distinctive terms, k-bounded ranks") {
    val docs = Seq(
      (1L, "spark spark spark unique1"),
      (2L, "spark common unique2 unique2"),
      (3L, "spark common other")).toDF("id", "text")
    val out = Search.tfidfKeywords(docs, "id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc.values.forall(rows => rows.map(_._4).sorted.toSeq == (1 to rows.length)))
    assert(byDoc.values.forall(_.length <= 2))
    // a term appearing only in doc 2 (twice) outranks corpus-wide 'spark'
    assert(byDoc(2L).minBy(_._4)._2 == "unique2")
    // idf floor: a term in EVERY doc still scores > 0 (smooth idf + 1)
    assert(out.forall(_._3 > 0))
  }

  test("qualityRules: each rule fires on its crafted document") {
    val good = ("good " * 30).trim // 30 tokens of 4 chars, but all dup...
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog " * 3), // pass-ish
      (2L, "a b"),                                      // word_count (short)
      (3L, ("internationalization " * 25).trim),        // mean_token_len + dup
      (4L, ""),                                         // everything length-ish
      (5L, ("7 ! " * 20).trim))                         // alpha_ratio
      .toDF("id", "text")
    val out = TextOps.qualityRules(docs, "text",
      minTokens = 5, maxTokens = 100, minMeanLen = 3.0, maxMeanLen = 8.0,
      maxDupWordFrac = 0.8, minStopwordRatio = 0.0, minAlphaRatio = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("pass")), r.getString(r.fieldIndex("reasons"))))
      .toMap
    assert(out(1L)._1, out(1L)._2)
    assert(!out(2L)._1 && out(2L)._2.contains("word_count"))
    assert(out(3L)._2.contains("mean_token_len"))
    assert(out(3L)._2.contains("dup_word_frac"))
    assert(!out(4L)._1 && out(4L)._2.contains("word_count"))
    assert(out(5L)._2.contains("alpha_ratio"))
    // reasons are comma-joined in fixed alphabetical order
    assert(out.values.forall { case (_, rs) =>
      rs.isEmpty || rs.split(",").toSeq == rs.split(",").toSeq.sorted })
  }

  test("unigramNll matches the hand-computed ordered fold") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "")).toDF("id", "text")
    val out = Search.unigramNll(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // counts: a=3, b=1, c=1, tot=5; zero-token doc 3 omitted
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 3 && byId(2L)._2 == 2)
    val ln = (x: Double) => math.log(x)
    val exp1 = -(((0.0 + ln(3.0 / 5)) + ln(3.0 / 5) + ln(1.0 / 5)) / 3)
    val exp2 = -(((0.0 + ln(3.0 / 5)) + ln(1.0 / 5)) / 2)
    assert(byId(1L)._3 == math.floor(exp1 * 10000.0 + 0.5) / 10000.0)
    assert(byId(2L)._3 == math.floor(exp2 * 10000.0 + 0.5) / 10000.0)
  }

  test("bigramNll matches the hand-computed conditional fold") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"), (4L, ""))
      .toDF("id", "text")
    val out = Search.bigramNll(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // c2: (a,b)=3 (b,a)=1 (b,c)=1; c1: a=3 b=3 c=1; <2-token docs omitted
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 3 && byId(2L)._2 == 2)
    val ln = (x: Double) => math.log(x)
    val exp1 = -((((0.0 + ln(3.0 / 3)) + ln(1.0 / 3)) + ln(3.0 / 3)) / 3)
    val exp2 = -(((0.0 + ln(3.0 / 3)) + ln(1.0 / 3)) / 2)
    assert(byId(1L)._3 == math.floor(exp1 * 10000.0 + 0.5) / 10000.0)
    assert(byId(2L)._3 == math.floor(exp2 * 10000.0 + 0.5) / 10000.0)
    // common words in an impossible order score higher than fluent text
    val salad = Seq((1L, "the cat sat"), (2L, "the cat sat"), (3L, "sat the cat"),
      (4L, "cat sat the")).toDF("id", "text")
    val s = Search.bigramNll(salad, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(3L) > s(1L) && s(4L) > s(1L))
  }

  test("rangeJoin: inclusive bounds, multi-granule intervals, keys, left how") {
    val left = Seq(
      (1L, 100L, "k1"), (2L, 250L, "k1"), (3L, 400L, "k2"),
      (4L, 100L, "k2"), (5L, 999L, "k1")).toDF("eid", "ts", "key")
    val right = Seq(
      ("iv1", 100L, 400L, "k1"),  // spans granules 1..4 at granule=100
      ("iv2", 380L, 420L, "k2"),  // straddles a granule boundary
      ("iv3", 500L, 400L, "k1"))  // end < start: matches nothing
      .toDF("name", "s", "e", "rkey")
    val inner = Joins.rangeJoin(left, right, "ts", "s", "e", Seq("name"),
      granule = 100L, on = Seq(("key", "rkey")))
      .collect().map(r => (r.getLong(0), r.getString(3))).sorted.toSeq
    // ts==start and ts==end both match (inclusive); key gates iv1 to k1
    assert(inner == Seq((1L, "iv1"), (2L, "iv1"), (3L, "iv2")))
    val lj = Joins.rangeJoin(left, right, "ts", "s", "e", Seq("name"),
      granule = 100L, on = Seq(("key", "rkey")), how = "left")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).sorted.toSeq
    assert(lj.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(lj.filter(_._2.isEmpty).map(_._1) == Seq(4L, 5L))
  }

  test("rangeJoin bucketing is exact at ns-epoch magnitudes") {
    // 2^60-scale longs: a double-typed quotient would misbucket values
    // within ~128 ns of a boundary; the decimal floor-div must not
    val g = 86400L * 1000000000L
    val b = 19700L * g // a day boundary near 1.7e18
    val left = Seq((1L, b), (2L, b - 1L), (3L, b + 1L)).toDF("eid", "ts")
    val right = Seq(("w", b, b + g - 1L)).toDF("name", "s", "e")
    val out = Joins.rangeJoin(left, right, "ts", "s", "e", Seq("name"), granule = g)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L)) // b-1 falls in the previous day
  }

  test("equiJoin how variants preserve left identity; nulls never match") {
    val l = Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
      .map { case (i, k) => (i, k.orNull) }.toDF("id", "k")
    val r = Seq(("a", 10L), ("a", 11L), ("c", 12L)).toDF("rk", "v")
    val inner = Joins.equiJoin(l, r, Seq("k" -> "rk"), "inner", Seq("v"))
    assert(inner.columns.toSeq == Seq("id", "k", "v"))
    assert(inner.select("id").collect().map(_.getLong(0)).toSeq.sorted
      == Seq(1L, 1L)) // two matches for 'a'
    val left = Joins.equiJoin(l, r, Seq("k" -> "rk"), "left", Seq("v"))
    assert(left.count() == 4) // 1 twice, 2 and 3 once with null v
    assert(left.filter(col("id") === 3L).collect().head.isNullAt(2))
    val semi = Joins.equiJoin(l, r, Seq("k" -> "rk"), "semi")
    assert(semi.columns.toSeq == Seq("id", "k"))
    assert(semi.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    val anti = Joins.equiJoin(l, r, Seq("k" -> "rk"), "anti")
    assert(anti.select("id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("clusterAssignWith: cosine argmax, first-index ties, zero-vector guard") {
    val df = Seq(
      (1L, Seq(1.0, 0.0)),  // centroid 0
      (2L, Seq(0.0, 2.0)),  // centroid 1 (centroid scaling is irrelevant)
      (3L, Seq(-1.0, 0.0)), // cos c0 = -1 < cos c1 = 0 → centroid 1
      (4L, Seq(1.0, 1.0)),  // exact tie → FIRST (lowest) index
      (5L, Seq(0.0, 0.0))   // zero vector: cohesion defined as 0
    ).toDF("id", "v")
    val out = graft.ops.Similarity.clusterAssignWith(df, "v",
        Seq(Seq(2.0, 0.0), Seq(0.0, 0.5))) // deliberately unnormalized
      .orderBy("id").collect()
    assert(out.map(_.getAs[Int]("cluster")).toSeq == Seq(0, 1, 1, 0, 0))
    assert(out.map(_.getAs[Double]("cohesion")).toSeq
      == Seq(1.0, 1.0, 0.0, 0.7071, 0.0))
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.clusterAssignWith(df, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Similarity.clusterAssignWith(df, "v", Seq(Seq(1.0), Seq(1.0, 0.0)))
    }
  }

  test("rangeJoin rejects fractional time columns (truncation would merge instants)") {
    // ts=1.9 would truncate to 1 and "match" an interval ending at 1.2;
    // the embed must fail fast instead (the xop validator already does —
    // this pins the public Scala API to the same rule)
    val fracLeft = Seq((1L, 1.9)).toDF("eid", "ts")
    val intRight = Seq(("w", 1L, 2L)).toDF("name", "s", "e")
    val e1 = intercept[IllegalArgumentException] {
      Joins.rangeJoin(fracLeft, intRight, "ts", "s", "e", Seq("name"), granule = 1L)
    }
    assert(e1.getMessage.contains("fractional"))
    val intLeft = Seq((1L, 1L)).toDF("eid", "ts")
    val fracRight = Seq(("w", 0.5f, 1.2f)).toDF("name", "s", "e")
    val e2 = intercept[IllegalArgumentException] {
      Joins.rangeJoin(intLeft, fracRight, "ts", "s", "e", Seq("name"), granule = 1L)
    }
    assert(e2.getMessage.contains("fractional"))
  }

  test("equiJoin rejects rightCols on semi/anti (no silent ignore)") {
    val l = Seq((1L, "a")).toDF("id", "k")
    val r = Seq(("a", 10L)).toDF("rk", "v")
    Seq("semi", "anti").foreach { how =>
      val e = intercept[IllegalArgumentException] {
        Joins.equiJoin(l, r, Seq("k" -> "rk"), how, Seq("v"))
      }
      assert(e.getMessage.contains("rightCols"), s"how=$how: ${e.getMessage}")
    }
  }

  test("dupGramStats counts corpus-shared n-grams per doc") {
    val df = Seq(
      (1L, "a b c d e f"), // 3-grams: abc bcd cde def
      (2L, "a b c d x y"), // shares abc, bcd with doc 1
      (3L, "zz"))          // < n tokens → no grams
      .toDF("id", "text")
    val rows = Dedup.dupGramStats(df, "id", "text", n = 3)
      .orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == Seq((1L, 4L, 2L, 0.5), (2L, 4L, 2L, 0.5), (3L, 0L, 0L, 0.0)))
  }

  test("dupGramStats counts within-doc repeats only once (distinct grams)") {
    // "p q r p q r p q r" has distinct 3-grams {pqr, qrp, rpq} — repeated
    // inside ONE doc they are still a single distinct gram, held by one
    // doc, so nothing is corpus-duplicated
    val df = Seq((1L, "p q r p q r p q r"), (2L, "totally different text here"))
      .toDF("id", "text")
    val r1 = Dedup.dupGramStats(df, "id", "text", n = 3)
      .filter(col("id") === 1L).collect().head
    assert(r1.getLong(1) == 3L && r1.getLong(2) == 0L)
  }

  test("budgetSelect equals the single-window truth, boundary ties split by id") {
    // priorities: 9 (ids 1,2,3 @ 10 tokens each), 5 (ids 4,5 @ 10), 1 (id 6)
    // budget 45: all of priority 9 (30), then boundary priority 5 takes
    // id 4 (40) but NOT id 5 (50 > 45); priority 1 fully out
    val df = Seq(
      (6L, 1L, 10L), (4L, 5L, 10L), (1L, 9L, 10L),
      (5L, 5L, 10L), (2L, 9L, 10L), (3L, 9L, 10L)
    ).toDF("id", "priority", "tok")
    val got = Sampling.budgetSelect(df, "id", "priority", col("tok"), 45L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 9L, 10L), (2L, 9L, 10L), (3L, 9L, 10L), (4L, 5L, 10L)))
    // exact-budget edge: 40 takes the same set minus nothing (run(4)=40)
    assert(Sampling.budgetSelect(df, "id", "priority", col("tok"), 40L)
      .count() == 4)
    // one token less and the boundary doc falls out
    assert(Sampling.budgetSelect(df, "id", "priority", col("tok"), 39L)
      .count() == 3)
  }

  test("budgetSelect boundary path plans shard windows, never a priority sort") {
    // all rows share one priority → the whole corpus is the boundary tie
    // group (the worst case); the prefix must plan as windows
    // PARTITIONED by the id shard, and no node anywhere may sort the
    // corpus by priority (the scale claim: no global (priority, id)
    // sort exists in any branch)
    val df = (1L to 60L).map(i => (i, 7L, 2L)).toDF("id", "priority", "tok")
    val plan = Sampling.budgetSelect(df, "id", "priority", col("tok"), 50L,
      shardSize = 10L).queryExecution.executedPlan.toString
    assert(plan.contains("__shard"), "shard-partitioned window missing")
    assert(!plan.contains("priority#") ||
      !plan.split('\n').exists(l => l.contains("Sort") && l.contains("priority#")),
      s"a priority sort leaked into the plan:\n$plan")
  }

  test("budget classification: shard-partitioned windows, unpartitioned only over shard ids") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // continuous double priorities make the distinct-priority relation
    // corpus-sized; the classification plan must contain NO
    // unpartitioned Window whose sort key carries the priority (the
    // round-14 weak) — the only unpartitioned windows allowed are the
    // shard-total rollups, whose input is ≤ classifyShards rows by
    // construction and whose sort key is the shard id
    def guard(df: org.apache.spark.sql.DataFrame): Unit = {
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(wins.nonEmpty, "classification lost its windows")
      val unpart = wins.filter(_.partitionSpec.isEmpty)
      assert(unpart.forall(_.orderSpec.forall(_.references.forall(a =>
        a.name == "__oshard" || a.name == "__pshard"))),
        s"an unpartitioned window sorts a non-shard key:\n" +
          df.queryExecution.optimizedPlan.toString)
      assert(wins.exists(w => w.partitionSpec.exists(
        _.references.exists(_.name == "__pshard"))),
        "the parallel shard-partitioned priority window is missing")
    }
    val base = (1L to 100L).map(i => (i, 1.0 / i, 2L))
      .toDF("id", "priority", "tokens")
    Sampling.classifyCrossing(base, "priority", nShards = 4)(guard)
    val srcBase = base
      .withColumn("src", concat(lit("s"), pmod(col("id"), lit(3L))))
      .withColumn("__budget", lit(10L))
    Sampling.classifyCrossingBySource(srcBase, "src", "priority", 4)(guard)
    // end-to-end on the continuous corpus: crossing at the 10th-best
    // score (20 tokens spent before id 10 at 2 tokens/doc, budget 21
    // admits ids 1..10's first 10 docs by score desc = ids 1..10)
    val got = Sampling.budgetSelect(base, "id", "priority", col("tokens"),
      21L, classifyShards = 4).collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 10L))
  }

  test("budgetSelect: once the budget is crossed, zero-token rows stay out") {
    // run ≤ budget is a PREFIX property: the zero-token row at priority 3
    // sits after the crossing point, so it is excluded even though it
    // would cost nothing; the zero-token row inside the prefix survives
    val df = Seq(
      (1L, 9L, 0L),  // zero-token, inside the prefix → in
      (2L, 8L, 10L), // run 10 ≤ 10 → in (exactly exhausts)
      (3L, 5L, 7L),  // run 17 > 10 → out (boundary, partial)
      (4L, 3L, 0L)   // zero-token but past the crossing → out
    ).toDF("id", "priority", "tok")
    val got = Sampling.budgetSelect(df, "id", "priority", col("tok"), 10L)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("budgetSelect is repartition-stable and drops null ids/priorities") {
    val df = Seq(
      (Some(1L), Some(5L), 3L), (Some(2L), Some(5L), 3L), (Some(3L), Some(5L), 3L),
      (None, Some(9L), 100L),   // null id: never selected, never counted
      (Some(4L), None, 100L)    // null priority: same
    ).toDF("id", "priority", "tok")
    val a = Sampling.budgetSelect(df, "id", "priority", col("tok"), 7L)
      .collect().map(_.getLong(0)).toSeq
    val b = Sampling.budgetSelect(df.repartition(7), "id", "priority",
      col("tok"), 7L).collect().map(_.getLong(0)).toSeq
    assert(a == Seq(1L, 2L) && b == a)
    // tiny shardSize forces multi-shard boundary prefix — same answer
    val c = Sampling.budgetSelect(df.repartition(5), "id", "priority",
      col("tok"), 7L, shardSize = 1L).collect().map(_.getLong(0)).toSeq
    assert(c == a)
    // budget past the total: no crossing point, the corpus IS the
    // selection (null-keyed rows still out)
    val d = Sampling.budgetSelect(df, "id", "priority", col("tok"), 1000L)
      .collect().map(_.getLong(0)).toSeq
    assert(d == Seq(1L, 2L, 3L))
  }

  test("budgetSelectBySource: per-source windows, defaults, null source, zero budget") {
    val df = Seq(
      // wiki: prio 9 x2 (10 tok each), prio 5 x2 — budget 25 cuts inside prio 5
      (1L, Some("wiki"), 9L, 10L), (2L, Some("wiki"), 9L, 10L),
      (3L, Some("wiki"), 5L, 10L), (4L, Some("wiki"), 5L, 10L),
      // crawl: fits entirely under its budget (no crossing row)
      (5L, Some("crawl"), 1L, 10L), (6L, Some("crawl"), 2L, 10L),
      // web: unlisted → defaultBudget 0 → nothing (positive tokens)
      (7L, Some("web"), 9L, 10L),
      // null source: legal group, reads the default
      (8L, None, 9L, 10L)
    ).toDF("id", "src", "prio", "tok")
    val got = Sampling.budgetSelectBySource(df, "id", "src", "prio",
      col("tok"), Map("wiki" -> 25L, "crawl" -> 100L))
      .collect().map(_.getLong(0)).toSeq
    // wiki: prio-9 band fits (20 ≤ 25); the prio-5 boundary has 5 tokens
    // of room, not enough for either 10-token doc → {1,2}; crawl fits
    // entirely; web/null read defaultBudget 0 → nothing
    assert(got == Seq(1L, 2L, 5L, 6L))
    // a default budget admits the unlisted and null-source groups
    val withDefault = Sampling.budgetSelectBySource(df, "id", "src", "prio",
      col("tok"), Map("wiki" -> 25L, "crawl" -> 100L), defaultBudget = 10L)
      .collect().map(_.getLong(0)).toSeq
    assert(withDefault == Seq(1L, 2L, 5L, 6L, 7L, 8L))
    // equals running budgetSelect per source (the semantics contract)
    val perSource = Seq("wiki" -> 25L, "crawl" -> 100L).flatMap { case (s, b) =>
      Sampling.budgetSelect(df.filter(col("src") === s), "id", "prio",
        col("tok"), b).collect().map(_.getLong(0))
    }.sorted
    assert(got == perSource)
    // repartition + tiny shards: same answer
    assert(Sampling.budgetSelectBySource(df.repartition(7), "id", "src",
      "prio", col("tok"), Map("wiki" -> 25L, "crawl" -> 100L),
      shardSize = 1L).collect().map(_.getLong(0)).toSeq == got)
    // zero budget with a zero-token doc: the prefix property holds per source
    val z = Seq((1L, "a", 5L, 0L), (2L, "a", 5L, 3L)).toDF("id", "src", "prio", "tok")
    assert(Sampling.budgetSelectBySource(z, "id", "src", "prio", col("tok"),
      Map("a" -> 0L)).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("mixDrift: shares, psi sign-free arithmetic, one-sided values") {
    val base = Seq("a", "a", "b", "b").toDF("src")
    val cur = Seq("a", "a", "a", "b", "c", "c", "c", "c").toDF("src")
    val rows = Profile.mixDrift(base, cur, "src").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    def psi(p: Double, q: Double): Double = {
      val pc = math.max(p, 1e-6); val qc = math.max(q, 1e-6)
      math.floor((pc - qc) * math.log(pc / qc) * 1e6 + 0.5) / 1e6
    }
    assert(rows.toSeq == Seq(
      ("a", 0.5, 0.375, psi(0.375, 0.5)),
      ("b", 0.5, 0.125, psi(0.125, 0.5)),
      ("c", 0.0, 0.5, psi(0.5, 0.0))))
    // every contribution is non-negative (p−q and ln(p/q) share a sign)
    assert(rows.forall(_._4 >= 0))
    // identical sides: all psi exactly 0
    assert(Profile.mixDrift(base, base, "src").collect()
      .forall(_.getDouble(3) == 0.0))
  }

  test("mixDrift treats a null category as a legal value") {
    val base = Seq(Some("a"), None, None).toDF("src")
    val cur = Seq(Some("a"), Some("a"), None).toDF("src")
    val rows = Profile.mixDrift(base, cur, "src").collect()
    assert(rows.length == 2)
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(math.abs(nullRow.getDouble(1) - 0.666667) < 1e-9)
    assert(math.abs(nullRow.getDouble(2) - 0.333333) < 1e-9)
  }

  test("rateAnomaly: spine-filled windows, flat-jump and z flags, trailing history gate") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def burst(minute: Int, tpe: String, n: Int): Seq[(java.sql.Timestamp, String)] =
      (0 until n).map(i => (t(f"2024-01-01 00:$minute%02d:${i * 3}%02d"), tpe))
    // type a: 2/min for minutes 0-5, a 9-event burst at 6, silence at 7,
    // back to 2 at 8; type b: only minutes 0 and 8 (spine must fill 1-7)
    val rows = (0 to 5).flatMap(burst(_, "a", 2)) ++ burst(6, "a", 9) ++
      burst(8, "a", 2) ++ burst(0, "b", 1) ++ burst(8, "b", 1)
    val events = rows.toDF("ts", "event_type")
    val out = graft.streaming.EventStreams
      .rateAnomaly(events, "1 minute", trailing = 5, zThreshold = 1.0)
      .collect().map(r => (r.getString(1), r.getTimestamp(0).toString.substring(14, 16),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))
    assert(out.length == 18) // 9 windows x 2 types, empties filled in
    val a = out.filter(_._1 == "a").map(x => (x._2, x._3, x._4, x._5, x._6))
    // first 5 windows: no full trailing history → everything null, no flag
    assert(a.take(5).forall { case (_, n, m, z, f) =>
      m.isEmpty && z.isEmpty && !f })
    // minute 5: flat trailing line (2,2,2,2,2), n = 2 → nothing to flag
    assert(a(5) == (("05", 2L, Some(2.0), None, false)))
    // minute 6: flat trailing line, n = 9 → the zero-variance JUMP flag
    // (z unmeasurable, anomaly still true)
    assert(a(6) == (("06", 9L, Some(2.0), None, true)))
    // minute 7: silence; trailing (2,2,2,2,9) → s=17, ss=97, the exact
    // same double expression as the operator's (integer numerator
    // k·ss − s², one double rounding at the division)
    val z7 = math.floor((0.0 - 17.0 / 5.0) /
      math.sqrt((5L * 97L - 17L * 17L).toDouble / 20.0) * 1e4 + 0.5) / 1e4
    assert(a(7) == (("07", 0L, Some(3.4), Some(z7), true)))
    // minute 8: recovery inside the band → no flag
    assert(a(8)._2 == 2L && !a(8)._5)
    // type b exists for all 9 windows with zero-filled gaps
    assert(out.count(_._1 == "b") == 9)
    assert(out.filter(_._1 == "b").map(_._3).sum == 2L)
    // null ts / null event_type rows are excluded up front (documented
    // filter): they would otherwise seed spine rows that can never
    // match their counts — output must equal the null-free run exactly
    val withNulls = (rows.map { case (ts, tp) => (Option(ts), Option(tp)) } ++
      Seq((None, Some("a")), (Some(t("2024-01-01 00:03:00")), None),
        (None: Option[java.sql.Timestamp], None: Option[String])))
      .toDF("ts", "event_type")
    val cleanRun = graft.streaming.EventStreams
      .rateAnomaly(events, "1 minute", trailing = 5, zThreshold = 1.0)
      .collect().map(_.toSeq).toSeq
    val nullRun = graft.streaming.EventStreams
      .rateAnomaly(withNulls, "1 minute", trailing = 5, zThreshold = 1.0)
      .collect().map(_.toSeq).toSeq
    assert(nullRun == cleanRun)
    intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.rateAnomaly(events, "1 minute; DROP", 5, 1.0) }
    intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.rateAnomaly(events, "1 minute", 1, 1.0) }
    // the spine generates in bounded slabs: a span past the OLD 10M
    // ceiling now RUNS (10.5M one-second windows — each explode task
    // materializes at most one slab), producing exactly one spine row
    // per window
    val t0 = t("2024-01-01 00:00:00")
    val wide = Seq((t0, "a"),
      (new java.sql.Timestamp(t0.getTime + 10500000L * 1000L), "a"))
      .toDF("ts", "event_type")
    assert(graft.streaming.EventStreams.rateAnomaly(wide, "1 second", 5, 1.0)
      .count() == 10500001L)
    // only a truly absurd span (> 1B windows) still refuses in-plan
    val absurd = Seq((t0, "a"),
      (new java.sql.Timestamp(t0.getTime + 1100000000L * 1000L), "a"))
      .toDF("ts", "event_type")
    val e = intercept[Exception] {
      graft.streaming.EventStreams.rateAnomaly(absurd, "1 second", 5, 1.0)
        .count() }
    assert(e.getMessage.contains("1B") ||
      Option(e.getCause).exists(_.getMessage.contains("1B")))
  }

  test("clusterSpectrum reports family sizes, components and docs per size") {
    // components: {1,2,3} (chain), {10,11}, {20,21} → spectrum:
    // size 2 × 2 components (4 docs), size 3 × 1 component (3 docs)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterSpectrum(Dedup.duplicateClusters(pairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 2L, 4L), (3L, 1L, 3L)))
    // the keep-one collapse count reads off the spectrum: Σ (size−1)·n
    // = 1·2 + 2·1 — and matches actually running the collapse
    assert(got.map { case (s, n, _) => (s - 1) * n }.sum == 4L)
    val docs = (1L to 25L).map(i => (i, s"doc $i")).toDF("id", "text")
    assert(docs.count() -
      Dedup.dropNearDuplicatesClustered(docs, pairs, "id").count() == 4L)
  }

  test("auditPairs returns the k most borderline pairs with texts, queue order") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // high overlap with 1
      (3L, "alpha beta gamma zz yy xx"),            // mid overlap with 1/2
      (4L, "totally different words entirely here now")
    ).toDF("id", "text")
    val pairs = Dedup.shingleJaccardPairsExact(docs, "id", "text",
      maxId = 1000, threshold = 0.0, shingleSize = 3)
    val all = pairs.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val thr = 0.5
    val expect = all
      .map { case (a, b, s) =>
        (math.floor(math.abs(s - thr) * 1e9 + 0.5) / 1e9, a, b, s) }
      .sortBy(t => (t._1, t._2, t._3)).take(2)
    val got = Dedup.auditPairs(pairs, "jaccard", docs, "id", "text",
      threshold = thr, k = 2).collect()
    assert(got.length == 2)
    for ((r, e) <- got.zip(expect)) {
      assert((r.getLong(0), r.getLong(1)) == (e._2, e._3))
      assert(r.getDouble(2) == e._4 && r.getDouble(3) == e._1)
      // texts really are the named documents'
      val texts = docs.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
      assert(r.getString(4) == texts(r.getLong(0)))
      assert(r.getString(5) == texts(r.getLong(1)))
    }
    // k past the pair count returns everything, still queue-ordered
    assert(Dedup.auditPairs(pairs, "jaccard", docs, "id", "text", thr, 100)
      .count() == all.length)
  }
}
