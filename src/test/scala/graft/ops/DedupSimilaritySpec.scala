package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Approximate dedup/ANN operators checked against their exact baselines. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .filter(col("doc_id") < 100)

  test("exact dedup: identical texts collapse to one representative") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text")
      .orderBy("keep_id").collect().map(r => (r.getLong(1), r.getLong(2))).toList
    assert(got == List((1L, 2L), (3L, 1L)))
  }

  test("jaccard pairs: hand-computed overlap") {
    val df = Seq(
      (1L, "a b c d"),   // {a b c d}
      (2L, "a b c e"),   // inter 3, union 5 -> 0.6
      (3L, "a b c d"))   // identical to 1 -> 1.0
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(df, "doc_id", "text", 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toList
    assert(got == List((1L, 2L, 0.6), (1L, 3L, 1.0), (2L, 3L, 0.6)))
  }

  test("minhash estimate tracks exact jaccard (mean abs error < 0.2 @ 64 hashes)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.0)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64)
    val est = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (aggregate(zip_with(col("a.sig"), col("b.sig"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (s, v) => s + v)
          .cast("double") / size(col("a.sig"))).as("est"))
    val joined = exact.join(est, Seq("id_a", "id_b"))
      .select(avg(abs(col("jaccard") - col("est")))).first().getDouble(0)
    assert(joined < 0.2, s"mean abs err $joined")
  }

  test("banded LSH finds every pair the exact method finds at high threshold") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 32)
    val cands = Dedup.minhashCandidatePairs(sigs, numBands = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 16 bands of 2 rows: P(collide) = 1-(1-j^2)^16 ≈ 1.0 at j >= 0.8
    assert(truth.subsetOf(cands), s"missed ${truth -- cands}")
  }

  test("df-cap changes candidate discovery, not the measure: results equal " +
       "when the cap only removes corpus-wide stop-words") {
    // 'the' appears in every doc (df = 4 > cap 3); every near-dup pair still
    // shares a rarer token, so the capped index discovers the same pairs and
    // the exact rescore reports identical jaccard values
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox leaps"),
      (3L, "the slow green turtle walks"),
      (4L, "the slow green turtle crawls")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    val uncapped = rows(Dedup.jaccardPairs(df, "doc_id", "text", 0.5))
    val capped = rows(Dedup.jaccardPairs(df, "doc_id", "text", 0.5,
      maxDocFreq = Some(3L)))
    assert(uncapped == capped && capped.nonEmpty)
    // and the cap really bounds the join: with cap 0 no candidates survive
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 0.0,
      maxDocFreq = Some(0L)).count() == 0)
  }

  test("minhashNearDupPairs == exact jaccardPairs at high threshold (recall gate)") {
    val got = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b", "inter", "jaccard").orderBy("id_a", "id_b").collect().toList
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .select("id_a", "id_b", "inter", "jaccard").orderBy("id_a", "id_b").collect().toList
    assert(got == exact && exact.nonEmpty)
  }

  /** Run `body` with the CC driver fast path disabled (cap 0 routes every
    * graph through the distributed pointer-jumping loop). */
  private def withCcLoop[A](body: => A): A = {
    val prev = Dedup.ccDriverEdgeCap
    Dedup.ccDriverEdgeCap = 0L
    try body finally Dedup.ccDriverEdgeCap = prev
  }

  test("near-dup clusters: components labeled by their minimum doc id") {
    // components: {1,2,3} (chain 1-2, 2-3), {7,9}, singleton-free
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
    // a long chain needs pointer jumping to converge inside the default
    // bound: plain neighbor-min would need ~119 rounds for a 120-node path,
    // far beyond maxIters=30 — O(log diameter) jumping gets there in ~7
    // (forced through the loop: the driver fast path has no rounds)
    val chain = (1L to 120L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val labels = withCcLoop(Dedup.nearDupClusters(chain))
      .collect().map(_.getLong(1)).toSet
    assert(labels == Set(1L))
  }

  test("near-dup clusters: driver union-find path == distributed loop") {
    // a mixed graph: chains, a star, singleton pairs, duplicate and
    // self-referential edges — the driver path (default cap) must agree
    // with the pointer-jumping loop row for row
    val edges = ((1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((100L, 107L), (100L, 103L), (100L, 150L), (103L, 150L),
          (200L, 201L), (300L, 300L), (100L, 107L), (9L, 2L))).toDF("id_a", "id_b")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val fast = rows(Dedup.nearDupClusters(edges))
    val loop = withCcLoop(rows(Dedup.nearDupClusters(edges)))
    assert(fast == loop && fast.nonEmpty)
    // routing really is by the cap: at cap 0 the loop's convergence guard
    // is reachable (see the non-convergence test below)
  }

  test("minhashDedupAgainst: fused == banded-join routes") {
    // both routes bucket by the same xxhash64 band hashes and dispose by
    // the same exact Jaccard, so the surviving corpus must be row-identical
    // whichever route runs; the fuzz corpus below has dense partial
    // overlaps plus isolated docs. Routes are forced via the two cap seams:
    // default = fused probe+rescore single pass; band cap 0 = banded
    // equi-join; token cap 0 (reference token arrays above their cap) must
    // also take the banded join.
    val rng = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (1L to 120L).map { i =>
      (i, rng.shuffle(vocab).take(4 + rng.nextInt(5)).mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val ref = docs.filter(col("doc_id") % 5 === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toList
    val fused = rows(Dedup.minhashDedupAgainst(corpus, ref, "doc_id", "text", 0.6))
    val prevTok = Dedup.refTokenBroadcastCap
    Dedup.refTokenBroadcastCap = 0L
    val overTokCap = try rows(Dedup.minhashDedupAgainst(corpus, ref, "doc_id", "text", 0.6))
      finally Dedup.refTokenBroadcastCap = prevTok
    val prev = Dedup.refBroadcastCap
    Dedup.refBroadcastCap = 0L
    val join = try rows(Dedup.minhashDedupAgainst(corpus, ref, "doc_id", "text", 0.6))
      finally Dedup.refBroadcastCap = prev
    assert(fused == join && overTokCap == join && fused.nonEmpty && fused.size < 96,
      s"fused=${fused.size} overTokCap=${overTokCap.size} join=${join.size} of 96 corpus docs")
  }

  test("minhashDedupAgainst: string ids route through the banded join") {
    // the broadcast routes collect ids as longs; non-integral idCol callers
    // must keep working through the join route (round-20 ADVICE)
    val docs = Seq(("a1", "alpha beta gamma delta"), ("a2", "alpha beta gamma delta"),
      ("b1", "zeta eta theta iota"), ("r1", "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") =!= "r1")
    val ref = docs.filter(col("doc_id") === "r1")
    val kept = Dedup.minhashDedupAgainst(corpus, ref, "doc_id", "text", 0.8)
      .select("doc_id").orderBy("doc_id").collect().map(_.getString(0)).toList
    assert(kept == List("b1"), s"kept=$kept")
  }

  test("near-dup clusters: non-convergence within maxIters fails loudly") {
    // even with pointer jumping, 2 rounds reach only a bounded distance
    // along a 400-node path; the loop must throw rather than return
    // silently split clusters (driver fast path disabled — union-find has
    // no iteration bound to test)
    val chain = (1L to 400L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      withCcLoop(Dedup.nearDupClusters(chain, maxIters = 2).collect())
    }
    assert(e.getMessage.contains("maxIters"))
  }

  test("simhash: non-integral id column is rejected with a clear error") {
    val df = Seq(("doc-1", "spark query engine")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhash(df, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("simhash: identical docs -> hamming 0; disjoint docs -> far") {
    val df = Seq(
      (1L, "spark query engine fast"),
      (2L, "spark query engine fast"),
      (3L, "zebra yak xylophone walrus vulture")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(Dedup.simhash(df, "doc_id", "text"), 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.getOrElse((1L, 3L), 64) > 10)
  }

  test("cosine: self similarity 1, orthogonal 0") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c"))).first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("SRP-LSH recall vs brute force (>= 30% @ 4 planes x 8 tables, k=10)") {
    // synthetic embeddings have weak neighbors (cos ~0.2 => ~78 deg), so SRP
    // collision probability per plane is only ~0.57; few planes + many tables
    // is the operating point. Real near-dup corpora sit at cos > 0.9 where
    // 8-16 planes work.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val qs = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", qs, 10,
      numPlanes = 4, numTables = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("IVF ANN: probed top-k recall vs brute force (>= 60% @ 16 centroids, nprobe 8)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val qs = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", qs, 10,
      numCentroids = 16, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("text analysis: hand-checked stats") {
    val df = Seq((1L, "The cat sat on the mat.")).toDF("doc_id", "text")
    val r = df.select(
      TextAnalysis.wordCount(col("text")),
      TextAnalysis.regexTokenCount(col("text")),
      TextAnalysis.langIdHeuristic(col("text")),
      TextAnalysis.fingerprint(col("text"))).first()
    assert(r.getLong(0) == 6)       // The cat sat on the mat.
    assert(r.getLong(1) == 7)       // 6 words + '.'
    assert(r.getString(2) == "en")  // two 'the' hits
    assert(r.getLong(3) > 0)
  }

  test("langIdHeuristic: null text is null, not a language") {
    val df = Seq((1L, Some("the cat and the dog")), (2L, None))
      .toDF("doc_id", "text")
    val r = df.select(TextAnalysis.langIdHeuristic(col("text"))).orderBy(lit(1))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(r.contains("en") && r.contains(null))
  }

  test("fingerprint is order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("multimodal decode: real BMP/WAV/JPEG/GIF header parsing round-trips the encoder") {
    val bmp = Multimodal.decodeOne(1L, Multimodal.bmpBytes(17, 9))
    assert(bmp.format_guess == "bmp" && bmp.width.contains(17) && bmp.height.contains(9))
    val wav = Multimodal.decodeOne(2L, Multimodal.wavBytes(2, 44100, 1234L))
    assert(wav.format_guess == "wav" && wav.channels.contains(2) &&
      wav.sample_rate.contains(44100) && wav.n_samples.contains(1234L))
    val jpg = Multimodal.decodeOne(3L, Multimodal.jpegBytes(640, 480))
    assert(jpg.format_guess == "jpeg" && jpg.width.contains(640) && jpg.height.contains(480))
    val gif = Multimodal.decodeOne(4L, Multimodal.gifBytes(320, 200))
    assert(gif.format_guess == "gif" && gif.width.contains(320) && gif.height.contains(200))
    val avi = Multimodal.decodeOne(6L, Multimodal.aviBytes(9, 8, "DIB ",
      Seq(new Array[Byte](28 * 8))))
    assert(avi.format_guess == "avi" && avi.width.contains(9) && avi.height.contains(8))
    // SOF behind a fat APP segment still found; truncated-at-scan JPEG yields text fallback
    assert(Multimodal.jpegDims(Multimodal.jpegBytes(1, 1)).contains((1, 1)))
    val scanOnly = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x04, 0x01, 0x02).map(_.toByte)
    assert(Multimodal.decodeOne(5L, scanOnly).format_guess == "utf8-text")
    // spec-legal fill bytes and standalone markers before the SOF must not
    // derail the walk: FF D8 | FF FF (fill) | FF 01 (TEM, no length) | SOF0
    val base = Multimodal.jpegBytes(33, 44)
    val padded = (base.take(2) ++ Array(0xff, 0xff, 0x01).map(_.toByte) ++ base.drop(2))
    assert(Multimodal.jpegDims(padded).contains((33, 44)))
  }

  test("multimodal decode: batch shape, utf8 fallback features, frame sampling") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.attachBinary(df, "doc_id", "text")
    val feats = Multimodal.decode(spark, media).collect()
    assert(feats.length == 1)
    assert(feats(0).n_bytes == 11L && feats(0).format_guess == "utf8-text")
    assert(feats(0).byte_sum_16.contains("hello world".map(_.toLong).sum))
    // frame sampling: 11 bytes, stride 4 -> frames of 4,4,3
    val lens = Multimodal.frameSample(media, 4, 10)
      .select(octet_length(col("frame_bytes"))).collect().map(_.getInt(0)).toList
    assert(lens == List(4, 4, 3))
  }

  test("span dedup: first global occurrence survives, docs reassembled in order") {
    // w=2 chunks: doc1 -> ["a b","c d"], doc2 -> ["c d","e f"] (dup "c d"
    // dropped), doc3 -> ["a b","a b","x"] (later same-doc repeat dropped too)
    val df = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b a b x"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDedup(df, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toList
    assert(got == List(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "e f"),
      (3L, 3L, 1L, "x")))   // doc1's "a b" wins; both of doc3's repeats drop
  }

  test("span dedup: fully-duplicated doc survives as an empty row") {
    val df = Seq((1L, "p q"), (2L, "p q")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(df, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toList
    assert(got == List((1L, 1L, "p q"), (2L, 0L, "")))
  }

  test("span dedup: zero-token docs survive as (0, 0, '') rows") {
    // empty / whitespace-only docs contribute no chunks at all, but must not
    // vanish from the output (same contract as a fully-duplicated doc)
    val df = Seq((1L, "p q"), (2L, ""), (3L, "  \t ")).toDF("doc_id", "text")
    val got = Dedup.spanDedup(df, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(got == List((1L, 1L, 1L, "p q"), (2L, 0L, 0L, ""), (3L, 0L, 0L, "")))
    val against = Dedup.spanDedupAgainst(
        df, Seq((9L, "p q")).toDF("doc_id", "text"), "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(against == List((1L, 1L, 0L, ""), (2L, 0L, 0L, ""), (3L, 0L, 0L, "")))
  }

  test("boilerplate strip: df >= minDf chunks vanish from EVERY doc, unlike span dedup") {
    // "a b" appears in 3 distinct docs (boilerplate at minDf=3) -> removed
    // everywhere, including the first occurrence span dedup would keep;
    // "c d" appears in only 2 docs -> kept in both; doc3's same-doc repeat
    // of "x y" counts df=1 -> kept twice (within-doc repetition is span
    // dedup's job, not boilerplate's)
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "a b x y x y"))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(df, "doc_id", "text", w = 2, minDf = 3L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toList
    assert(got == List(
      (1L, 2L, 1L, "c d"),
      (2L, 2L, 1L, "c d"),
      (3L, 3L, 2L, "x y x y")))
  }

  test("spanDedupAgainst strips reference spans surgically, keeps the remainder") {
    val corpus = Seq((1L, "a b c d"), (2L, "e f a b")).toDF("doc_id", "text")
    val ref = Seq((100L, "a b x y")).toDF("doc_id", "text")   // ref 2-chunks: "a b", "x y"
    val got = Dedup.spanDedupAgainst(corpus, ref, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(got == List(
      (1L, 2L, 1L, "c d"),    // "a b" stripped
      (2L, 2L, 1L, "e f")))   // doc2 chunks "e f","a b" -> "a b" stripped
  }

  test("minhashDedupAgainst: drops near-dups of reference docs, id collisions are safe") {
    // corpus id 1 is a light edit of reference doc (jaccard 4/5 = 0.8),
    // corpus id 2 is unrelated; reference reuses id 1 to prove the two
    // corpora's id spaces never mix
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    val ref = Seq(
      (1L, "alpha beta gamma delta zeta"),
      (9L, "qq rr ss tt uu"))
      .toDF("doc_id", "text")
    val kept = Dedup.minhashDedupAgainst(corpus, ref, "doc_id", "text",
        threshold = 0.65, numHashes = 32, numBands = 16)
      .select("doc_id").collect().map(_.getLong(0)).toList
    assert(kept == List(2L))
    // raise the bar past the overlap: nothing is dropped
    val keptAll = Dedup.minhashDedupAgainst(corpus, ref, "doc_id", "text",
        threshold = 0.9, numHashes = 32, numBands = 16)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toList
    assert(keptAll == List(1L, 2L))
  }

  test("fuzz: minhashDedupAgainst equals the exact cross-jaccard gate on random corpora") {
    val rng = new scala.util.Random(77)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    for (_ <- 1 to 5) {
      val mk = () => Seq.fill(3 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      val corpus = (0L until 12L).map(i => (i, mk()))
      val ref = (0L until 5L).map(i => (i + 100L, mk()))
      val t = 0.5
      def tokset(s: String) = s.split(" ").toSet
      val expected = corpus.filterNot { case (_, ct) =>
        ref.exists { case (_, rt) =>
          val (a, b) = (tokset(ct), tokset(rt))
          val i = (a & b).size
          i.toDouble / (a.size + b.size - i) >= t
        }
      }.map(_._1).sorted
      val got = Dedup.minhashDedupAgainst(
          corpus.toDF("doc_id", "text"), ref.toDF("doc_id", "text"),
          "doc_id", "text", threshold = t, numHashes = 64, numBands = 32)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toList
      assert(got == expected.toList, s"corpus=$corpus ref=$ref")
    }
  }

  // 4 tight clusters around orthogonal 8-dim axes with deterministic jitter:
  // ANN recall on this layout is total for any honest candidate generator
  private def clusteredVecs(n: Int): Seq[(Long, Seq[Float])] =
    (0L until n.toLong).map { id =>
      val axis = (id % 4).toInt
      val v = Array.fill(8)(0.01f * ((id * 7 % 5) - 2))
      v(axis * 2) = 1f
      v(axis * 2 + 1) = 0.1f * ((id % 3) - 1)
      (id, v.toSeq)
    }

  test("pq: full shortlist equals brute force exactly (encode/ADC/re-rank plumbing)") {
    val df = clusteredVecs(40).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L, 1L, 2L), k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    val pq = Similarity.pqTopK(df, "vec_id", "embedding", Seq(0L, 1L, 2L), k = 3,
        numSubspaces = 4, numCodes = 8, codebookStride = 3, shortlist = 40, dim = 8)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    assert(pq == brute)
  }

  test("pq: honest pruning (shortlist << corpus) still recovers the exact top-k on clustered data") {
    val df = clusteredVecs(64).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L, 5L), k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    // shortlist 20 of 64: covers one 16-vector cluster, so the gate is that
    // ADC ranks every same-cluster candidate below all cross-cluster ones
    val pq = Similarity.pqTopK(df, "vec_id", "embedding", Seq(0L, 5L), k = 3,
        numSubspaces = 4, numCodes = 8, codebookStride = 3, shortlist = 20, dim = 8)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    assert(pq == brute)
  }

  test("int8: full shortlist equals brute force exactly (quantize/int-cosine/re-rank plumbing)") {
    val df = clusteredVecs(40).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L, 1L, 2L), k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    val sq = Similarity.int8TopK(df, "vec_id", "embedding", Seq(0L, 1L, 2L),
        k = 3, shortlist = 40)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    assert(sq == brute)
  }

  test("int8: honest pruning still recovers the exact top-k on clustered data") {
    val df = clusteredVecs(64).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", Seq(0L, 5L), k = 3)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    val sq = Similarity.int8TopK(df, "vec_id", "embedding", Seq(0L, 5L),
        k = 3, shortlist = 20)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
    assert(sq == brute)
  }

  test("int8: zero vectors quantize to zero codes and rank last; missing query id fails loudly") {
    val df = (Seq((0L, Seq(1.0f, 0.2f, 0.0f, 0.0f)), (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))): Seq[(Long, Seq[Float])]).toDF("vec_id", "embedding")
    val got = Similarity.int8TopK(df, "vec_id", "embedding", Seq(0L), k = 2, shortlist = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toList
    assert(got.head == 1L, "the non-zero neighbor must outrank the zero vector")
    val e = intercept[IllegalArgumentException](
      Similarity.int8TopK(df, "vec_id", "embedding", Seq(0L, 99L), k = 1, shortlist = 1))
    assert(e.getMessage.contains("query ids"))
  }

  test("int8/pq: a duplicated corpus id among the queries fails loudly instead of fanning out") {
    // id 0 appears twice (a replayed append) — a row-count guard would
    // false-pass when another queried id is missing, and silently emit two
    // result sets for the duplicate
    val dup = (clusteredVecs(24) :+ (0L, clusteredVecs(1).head._2))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      Similarity.int8TopK(dup, "vec_id", "embedding", Seq(0L, 5L), k = 2, shortlist = 4))
    assert(e1.getMessage.contains("duplicate"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.pqTopK(dup, "vec_id", "embedding", Seq(0L, 5L), k = 2,
        numSubspaces = 4, numCodes = 8, codebookStride = 3, shortlist = 8, dim = 8))
    assert(e2.getMessage.contains("duplicate"))
    // and one duplicated + one missing id must still fail, not cancel out
    val e3 = intercept[IllegalArgumentException](
      Similarity.int8TopK(dup, "vec_id", "embedding", Seq(0L, 99L), k = 2, shortlist = 4))
    assert(e3.getMessage.contains("query ids") || e3.getMessage.contains("duplicate"))
  }

  test("prototypePrune: keeps the hardest keepFrac per cluster; keepFrac=1 keeps all") {
    val df = clusteredVecs(48).toDF("vec_id", "embedding")
    val res = Similarity.prototypePrune(df, "vec_id", "embedding",
        targetClusterSize = 12, keepFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(res.length == 48)
    res.groupBy(_._2).foreach { case (cl, rows) =>
      val kept = rows.filter(_._4)
      val dropped = rows.filterNot(_._4)
      assert(kept.length == math.ceil(rows.length * 0.5).toInt,
        s"cluster $cl keeps ceil(n/2): ${kept.length} of ${rows.length}")
      if (kept.nonEmpty && dropped.nonEmpty)
        assert(kept.map(_._3).max <= dropped.map(_._3).min + 1e-9,
          s"cluster $cl must keep the LEAST prototypical (lowest proto_cos)")
    }
    val keptEasy = Similarity.prototypePrune(df, "vec_id", "embedding",
        targetClusterSize = 12, keepFrac = 0.5, keepEasy = true)
      .filter(col("keep")).collect().map(r => (r.getInt(1), r.getDouble(2))).toSeq
    val hardMax = res.filter(_._4).groupBy(_._2).view.mapValues(_.map(_._3).max)
    // easy mode keeps the top of each cluster: its kept minimum must be >=
    // the hard mode's kept maximum in every cluster with spread
    keptEasy.groupBy(_._1).foreach { case (cl, rows) =>
      assert(rows.map(_._2).min >= hardMax(cl) - 1e-9, s"cluster $cl easy/hard inverted")
    }
    val all = Similarity.prototypePrune(df, "vec_id", "embedding",
      targetClusterSize = 12, keepFrac = 1.0)
    assert(all.filter(!col("keep")).count() == 0)
  }

  test("semanticDedup: within-cluster dup groups keep their smallest id, singletons keep") {
    // label 0 around +x: ids 0,1,2 mutually near (one dup group), id 3 far
    // side of the cluster boundary but alone; label 1 around +y: 4,5 near
    val df = Seq(
      (0L, Seq(1.0f, 0.02f, 0.0f, 0.0f), 0),
      (1L, Seq(0.99f, 0.0f, 0.01f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.03f), 0),
      (3L, Seq(0.6f, 0.0f, -0.8f, 0.0f), 0),
      (4L, Seq(0.0f, 1.0f, 0.02f, 0.0f), 1),
      (5L, Seq(0.01f, 0.99f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedup(df, "vec_id", "embedding", "label", threshold = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toList
    assert(got == List((0L, true), (1L, false), (2L, false), (3L, true),
      (4L, true), (5L, false)))
  }

  test("semanticDedup: single-label corpus is one cluster, dedup still applies") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 7),
      (1L, Seq(0.99f, 0.01f), 7),   // near-dup of 0
      (2L, Seq(0.0f, 1.0f), 7))     // orthogonal singleton
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedup(df, "vec_id", "embedding", "label", threshold = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toList
    assert(got == List((0L, 7, true), (1L, 7, false), (2L, 7, true)))
  }

  test("semanticDedupAuto: unlabeled dedup keeps smallest id per dup group") {
    // two tight groups (+x: 0,2,4; +y: 1,3) and an orthogonal z singleton.
    // stride 1 -> seeds are ids 0 (+x) and 1 (+y); one Lloyd round refines.
    val df = Seq(
      (0L, Seq(1.0f, 0.02f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.02f)),
      (2L, Seq(0.99f, 0.0f, 0.01f)),
      (3L, Seq(0.01f, 0.99f, 0.0f)),
      (4L, Seq(1.0f, 0.0f, 0.03f)),
      (5L, Seq(0.0f, 0.02f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupAuto(df, "vec_id", "embedding",
      targetClusterSize = 3, threshold = 0.9, seedStride = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toList
    assert(got == List((0L, true), (1L, true), (2L, false), (3L, false),
      (4L, false), (5L, true)))
  }

  test("semanticDedupAuto: k grows with the corpus, so pair volume stays linear") {
    // THE scale property (SemDeDup's own knob): k = ceil(N/target) clusters
    // keep Σ cluster_size² ≈ N·target — linear in N — instead of the
    // quadratic N²/k of a fixed-k clustering. Gate on the driver fixture:
    // every seeded cluster survives refinement, no cluster degenerates past
    // 3× the target, and pair volume stays inside the linear envelope
    // (measured: max 23, Σsz² 8132 vs the N² = 250000 quadratic blowup).
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val n = emb.count()
    val target = 16
    val k = math.max(2L, math.ceil(n.toDouble / target).toLong)
    val r = Similarity.semanticDedupAuto(emb, "vec_id", "embedding",
      targetClusterSize = target, threshold = 0.36)
    assert(r.count() == n, "every vector gets a verdict")
    val sizes = r.groupBy("cluster").count().collect().map(_.getLong(1))
    assert(sizes.length == k, s"expected $k clusters, got ${sizes.length}")
    assert(sizes.max <= 3L * target, s"degenerate cluster of ${sizes.max}")
    val sumSq = sizes.map(s => s * s).sum
    assert(sumSq <= n * 4L * target,
      s"pair volume $sumSq outside the linear envelope ${n * 4L * target}")
  }

  test("nearDupClusters: reliable checkpointDir truncation converges identically") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val chain = (1L to 120L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    // forced through the distributed loop — the reliable-checkpoint knob
    // exists for exactly the graphs too big for the driver fast path
    val labels = withCcLoop(Dedup.nearDupClusters(chain, checkpointDir = Some(dir)))
      .collect().map(_.getLong(1)).toSet
    assert(labels == Set(1L))
    // the loop really used the reliable checkpoint dir (RDD files on disk)
    val ckptFiles = new java.io.File(dir).listFiles()
    assert(ckptFiles != null && ckptFiles.nonEmpty, "checkpoint dir unused")
  }

  test("spanDedup / boilerplateStrip: reliable checkpointDir matches localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("chunk-ckpt").toString
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b x y"))
      .toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toList
    assert(rows(Dedup.spanDedup(df, "doc_id", "text", 2, Some(dir))) ==
      rows(Dedup.spanDedup(df, "doc_id", "text", 2)))
    assert(rows(Dedup.boilerplateStrip(df, "doc_id", "text", 2, 3L, Some(dir))) ==
      rows(Dedup.boilerplateStrip(df, "doc_id", "text", 2, 3L)))
  }

  test("nearest class mean: separable classes classify perfectly, centroids are rounded means") {
    // class 0 along +x, class 1 along +y; one borderline vector still closer to its own mean
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.0f, 1.0f), 1), (3L, Seq(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.classCentroids(df, "embedding", "label")
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList)).toList
    assert(cents == List((0, List(0.95, 0.05)), (1, List(0.05, 0.95))))
    val conf = Similarity.nearestClassMean(df, "embedding", "label")
      .orderBy("true_label", "assigned_label").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toList
    assert(conf == List((0, 0, 2L), (1, 1, 2L)))
  }

  test("kmeans: one iteration pulls a mis-seeded point to its true cluster, then fixed point") {
    // two tight groups; init centroids deliberately offset so vec 4 starts
    // mis-assigned, and the recomputed means capture it on the next pass
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.5f, 0.6f)))
      .toDF("vec_id", "embedding")
    val init = Array((0, Seq(1.0, 0.0)), (1, Seq(0.6, 0.55)))
    def clusters(iters: Int): Map[Long, Int] =
      Similarity.kmeansAssign(df, "embedding", init, iters)
        .select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c0 = clusters(0)   // under the raw init, 4 sits with the x-axis? no: cos(4, c1) wins
    assert(c0(4) == 1 && c0(3) == 1 && c0(0) == 0)
    val c1 = clusters(1)
    val c2 = clusters(2)
    assert(c1 == c2, "assignment must reach a fixed point on separated groups")
    assert(c1(0) == 0 && c1(1) == 0 && c1(2) == 0 && c1(3) == 1 && c1(4) == 1)
  }

  test("source ngram overlap: counts distinct shared n-grams per source pair") {
    val df = Seq(
      ("a", "w x y z"),        // 2-grams {w x, x y, y z}
      ("b", "x y z q"),        // shares {x y, y z} with a
      ("c", "unrelated words"))
      .toDF("source", "text")
    val got = TextAnalysis.sourceNgramOverlap(df, "source", "text", n = 2)
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(got == List(("a", "b", 2L)))
  }
}
