package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators — the LLM-training-pipeline
  * extension surface (north star), designed shuffle-first:
  *
  *  - exact:    one hash-groupBy, no pairwise work
  *  - jaccard:  inverted-index token join (pairs only materialize for docs
  *              sharing a token), then exact set-overlap arithmetic
  *  - minhash:  per-doc signatures + banded LSH so candidate pairs come from
  *              an equi-join on band hashes — the only pattern that survives
  *              100 TB (no cross join anywhere)
  *  - simhash:  64-bit fingerprint + 16-bit chunk blocking (pigeonhole: any
  *              pair within hamming distance 3 shares one of 4 chunks)
  *
  * All hashing uses Spark's codegen'd xxhash64 — deterministic across runs
  * and executors, no UDFs.
  */
object Dedup {

  /** Distinct lower-cased whitespace tokens per document. */
  def tokenSet(text: Column): Column =
    array_remove(array_distinct(split(lower(text), "\\s+")), "")

  /** Distinct character n-gram shingles (classic near-dup features — robust
    * to word-boundary edits where word sets are not).
    */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** Exact dedup by content hash: one row per distinct text, keeping the
    * smallest id as representative. Single hash-shuffle; grouping on the
    * 128-bit md5 rather than the full text keeps shuffle rows narrow.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** All pairs (a < b) with word-set Jaccard >= threshold, via an inverted
    * index: explode distinct tokens, self-join on token (only co-occurring
    * docs meet), count intersections, then |A∪B| = |A|+|B|−|A∩B|.
    * Exact — the oracle-checkable baseline; minhash below is the approximate
    * scale path when the token join itself is too dense (stop-word-heavy
    * corpora should drop top-frequency tokens first).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double,
                   tokenizer: Column => Column = tokenSet,
                   maxDocFreq: Option[Long] = None): DataFrame = maxDocFreq match {
    case None =>
      // token rows feed the size aggregate and both sides of the inverted-
      // index self-join — materialize the explode once, not three times
      val toks = df.select(col(idCol).as("id"),
          explode(tokenizer(col(textCol))).as("tok"))
        .localCheckpoint(true)
      val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      val inter = toks.as("a").join(toks.as("b"),
          col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    case Some(cap) =>
      // df-cap: candidate pairs only materialize through tokens with document
      // frequency <= cap, so a stop-word-dense corpus can't go quadratic; the
      // Jaccard itself is then rescored EXACTLY over the full token sets, so
      // the cap only affects which pairs are *discovered*, not their measure.
      val toks = df.select(col(idCol).as("id"),
          explode(tokenizer(col(textCol))).as("tok"))
        .localCheckpoint(true)
      // the df-capped token frame is BOTH sides of the candidate self-join
      val rare = toks.join(
        toks.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
          .filter(col("dfreq") <= cap).select("tok"), Seq("tok"))
        .localCheckpoint(true)
      val cand = rare.as("a").join(rare.as("b"),
          col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      rescoreJaccard(cand, df, idCol, textCol, tokenizer)
        .filter(col("jaccard") >= threshold)
  }

  /** Exact word-set Jaccard recomputed for an explicit candidate-pair set —
    * the verification half of every candidates-then-verify near-dup pipeline
    * (LSH generates, this measures). Cost scales with |pairs|, not |corpus|².
    */
  def rescoreJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
                     textCol: String,
                     tokenizer: Column => Column = tokenSet): DataFrame = {
    // The pair set is usually an expensive candidate-generation subplan and
    // feeds the two attach joins — run it once. Each doc's token set rides
    // as ONE bounded array of 8-byte hashes (never strings), attached to
    // the pair by two id equi-joins, and |inter| is a codegen'd
    // array_intersect per pair row. Versus the explode form (a
    // |pairs| × |tokens| row shuffle + re-aggregate — measured 305k
    // candidates × ~26 tokens = 8M shuffled rows in x49's fuzzy stage),
    // this moves 3× fewer bytes and skips the widest shuffle entirely;
    // candidate verification stays linear in |pairs| when a dense corpus
    // defeats band pruning. Hash collisions can only perturb |inter|/|set|
    // with P ≈ tokens²/2^64 (the string oracle would surface one). The
    // empty-token filter keeps the explode form's semantics: a tokenless
    // doc has no token rows, so its pairs vanish from the inner joins.
    // token-hash arrays are SORTED at materialization (one O(T log T) pass
    // per doc) so the per-pair |inter| is a fused two-pointer merge
    // (SortedIntersectSize) instead of array_intersect's per-row hash-set
    // build + intersection materialization — the rescore runs once per
    // CANDIDATE PAIR (millions on a dense corpus) while the sort runs once
    // per DOC. |inter| over distinct sorted arrays is identical to the
    // array_intersect size, so jaccard values are unchanged.
    val p = pairs.select("id_a", "id_b").localCheckpoint(true)
    val toks = df.select(col(idCol).as("id"),
        sort_array(array_distinct(transform(tokenizer(col(textCol)),
          t => xxhash64(t)))).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint(true)
    p
      .join(toks.select(col("id").as("id_a"), col("toks").as("__ta")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("toks").as("__tb")), Seq("id_b"))
      .withColumn("inter",
        graft.expressions.SortedIntersectSize
          .sortedIntersectSize(col("__ta"), col("__tb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("__ta")) + size(col("__tb")) - col("inter")).cast("double"))
      .select("id_a", "id_b", "inter", "jaccard")
  }

  /** MinHash signature: numHashes independent permutations approximated by
    * xxhash64(seed, token); signature[i] = min over tokens. One hash-shuffle
    * keyed on doc id with numHashes `min` aggregates (all codegen'd, with
    * map-side partial aggregation): each token row is hashed numHashes ways
    * in place — no (doc, seed) row fan-out, no second shuffle, and shuffle
    * volume is the token count, not token count × numHashes.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val toks = df.select(col(idCol).as("id"), explode(tokenSet(col(textCol))).as("tok"))
    val mins = (0 until numHashes).map(s =>
      min(xxhash64(lit(s), col("tok"))).as(s"__mh$s"))
    toks.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(s => col(s"__mh$s")): _*).as("sig"))
  }

  /** (id, band, band_hash) rows — one per signature band. Only 3 longs per
    * (doc, band) row ever ride the candidate-join shuffles; signature arrays
    * stay behind. Shared with the streaming MinHash banding scheme so batch
    * and stream band identically. */
  private[graft] def bandHashes(sigs: DataFrame, numBands: Int): DataFrame =
    sigs.select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"))
      .withColumn("rows_per_band", (size(col("sig")) / numBands).cast("int"))
      .withColumn("band_hash", xxhash64(col("band"),
        slice(col("sig"), col("band") * col("rows_per_band") + 1, col("rows_per_band"))))
      .select("id", "band", "band_hash")

  /** Distinct (id_a < id_b) pairs agreeing on any full band — the bare
    * candidate set, no signature payload. `sigs` must already be
    * materialized (it feeds both sides of the self-join).
    */
  private def bandedCandidates(sigs: DataFrame, numBands: Int): DataFrame = {
    val banded = bandHashes(sigs, numBands)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Banded LSH candidates: docs agreeing on any full band of the signature
    * collide. Candidate generation is an equi-join on (band, band hash) —
    * linear shuffle, no cross join. est_jaccard = fraction of equal
    * signature positions (unbiased MinHash estimate of true Jaccard).
    */
  /** Fraction of equal signature positions — the unbiased MinHash estimate
    * of Jaccard; one definition shared by batch and streaming paths. */
  private[graft] def estJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)

  def minhashCandidatePairs(sigs: DataFrame, numBands: Int): DataFrame = {
    // The signature frame is materialized once (eager, lineage-truncated):
    // it feeds BOTH sides of the self-join plus two re-attach joins, and
    // without the checkpoint Spark re-derives the full signature pipeline
    // (scan + explode + aggregate) for each of the four uses — at corpus
    // scale that is four scans of the raw text instead of one pass over a
    // 32-longs-per-doc index.
    val s = sigs.localCheckpoint(true)
    bandedCandidates(s, numBands)
      .join(s.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(s.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** End-to-end MinHash-LSH near-dup detection, candidates-then-verify: banded
    * LSH proposes, exact Jaccard (full token sets) disposes. Output equals the
    * exact `jaccardPairs` result whenever the band recall is total — which at
    * 16 bands of 2 rows holds with P ≈ 1 − 8e-8 per pair at j = 0.8 — so a
    * result-equality oracle against the exact SQL genuinely gates LSH recall.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, numHashes: Int = 32,
                          numBands: Int = 16): DataFrame = {
    require(numBands >= 1 && numHashes / numBands >= 1,
      s"numBands $numBands must leave >= 1 signature row per band at $numHashes hashes (0-row bands would hash every doc into one bucket)")
    // exact rescore decides membership, so the MinHash estimate is never
    // consulted here — generate BARE candidate pairs and skip the two
    // signature re-attach joins `minhashCandidatePairs` does for est_jaccard
    val cand = bandedCandidates(
      minhashSignatures(df, idCol, textCol, numHashes).localCheckpoint(true),
      numBands)
    rescoreJaccard(cand, df, idCol, textCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard for CROSS-corpus candidate pairs (id_a from `left`, id_b
    * from `right`) — the two-frame form of `rescoreJaccard`, immune to id
    * collisions between the corpora. Cost scales with |pairs|, not
    * |left| × |right|. */
  private def rescoreJaccardCross(pairs: DataFrame,
                                  left: DataFrame, right: DataFrame,
                                  idCol: String, textCol: String): DataFrame = {
    // same bounded-token-hash-array shape as rescoreJaccard (see there for
    // the measured explode-form cost, the collision/empty-doc notes, and
    // why the arrays are SORTED: |inter| per pair becomes a fused
    // two-pointer merge); token strings never ride the pair joins
    def toks(df: DataFrame) = df.select(col(idCol).as("id"),
        sort_array(array_distinct(transform(tokenSet(col(textCol)),
          t => xxhash64(t)))).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint(true)
    val p = pairs.select("id_a", "id_b").localCheckpoint(true)
    val ta = toks(left); val tb = toks(right)
    p
      .join(ta.select(col("id").as("id_a"), col("toks").as("__ta")), Seq("id_a"))
      .join(tb.select(col("id").as("id_b"), col("toks").as("__tb")), Seq("id_b"))
      .withColumn("inter",
        graft.expressions.SortedIntersectSize
          .sortedIntersectSize(col("__ta"), col("__tb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("__ta")) + size(col("__tb")) - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** FUZZY reference decontamination: drop every corpus document whose token
    * set is a near-duplicate (exact Jaccard >= threshold) of ANY reference
    * document — the MinHash-LSH cross-corpus gate sitting between exact-text
    * reference dedup (`bloomDedupAgainst`) and span-level
    * decontamination (`spanDedupAgainst`): it catches lightly-edited copies
    * of benchmark/blocklist content that exact hashing misses and span
    * stripping would only partially remove. Returns the surviving corpus rows.
    *
    * Candidates-then-verify at cross-corpus: both sides' signatures meet in
    * ONE banded equi-join (linear shuffle of 3-long rows — never
    * |corpus| × |ref|), exact cross-Jaccard disposes, and one anti-join
    * removes flagged docs. The corpus never shuffles: only its signature
    * band rows, candidate ids, and the matched-pair token rows do. Output
    * equals the exact all-pairs gate whenever band recall is total at the
    * threshold — 16 bands of 2 rows miss a j = 0.8 pair with P ≈ 8e-8, and
    * a DOC escapes only if every one of its qualifying pairs is missed —
    * which is what the x48 equality oracle verifies end-to-end.
    *
    * Cost is |candidates| × shared tokens, i.e. linear in true matches on a
    * realistic corpus (rare matches → sparse candidates). The synthetic
    * test corpus is the adversarial DENSE case — ~95% of all cross pairs
    * are near-dups, so verification degenerates to exact all-pairs work
    * there by construction; no candidate generator can prune pairs that
    * genuinely qualify.
    */
  /** Reference band-table size (rows = ref docs × bands) at or below which
    * [[minhashDedupAgainst]] takes the broadcast-probe candidate route: the
    * ref buckets collect to a driver map (≤ cap × ~24 B — the same bounded-
    * reference assumption `bloomDedupAgainst` already broadcasts on; a
    * benchmark/blocklist corpus is small by definition) and ONE compiled
    * pass over the corpus SIGNATURE frame emits each doc's deduplicated
    * candidate ref set directly. The join route it replaces exploded both
    * sides and equi-joined: on a near-dup-dense corpus a pair agreeing on
    * ~14 of 16 bands materialized ~14 join rows only for the distinct's
    * partial aggregate to throw 13 away — measured round-20 (OptProbe x48)
    * at 6.0 CPU-s for 1.13M distinct candidates from a 16M-row fan-out.
    * Per-doc dedup makes the probe's output distinct by construction: no
    * fan-out, no distinct exchange. Candidate SEMANTICS are unchanged —
    * both routes bucket by the same Spark xxhash64 band hashes (the probe
    * computes them declaratively, without the explode), and bucket
    * membership is decided by slice equality modulo hash collisions, which
    * only ever ADD candidates that the exact rescore disposes. Above the
    * cap the join route stands (an unbounded reference must never collect).
    * Mutable only as a test seam (the equality spec forces the join route).
    */
  private[graft] var refBroadcastCap: Long = 1000000L

  /** One array of the doc's `numBands` band hashes — the same
    * xxhash64(band, slice) values [[bandHashes]] produces, computed without
    * the explode (one row per doc, not per (doc, band)). */
  private def bandHashArray(numBands: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(b, slice(col("sig"),
        b * (size(col("sig")) / numBands).cast("int") + 1,
        (size(col("sig")) / numBands).cast("int"))))

  /** Total reference TOKEN-HASH count at or below which the broadcast route
    * runs: it also broadcasts the reference's sorted token-hash arrays and
    * FUSES the exact-Jaccard rescore into the same compiled corpus pass
    * (round 21): the per-doc candidate ref set is rescored in place against
    * the broadcast arrays — two-pointer |inter| over sorted distinct
    * hashes, the identical arithmetic `rescoreJaccardCross` runs — and the
    * doc emits its id ONCE as soon as any candidate reaches the threshold.
    * Versus probe-then-rescore this removes the pair-frame materialization
    * (localCheckpoint job + two attach joins over |pairs| wide two-array
    * rows — x48's 1.13M) and short-circuits the rescore per doc, which on
    * a near-dup-dense corpus skips ~15/16 of the intersect work without
    * changing the answer (dirty = EXISTS a qualifying pair). 8M hashes
    * ≈ 64 MB broadcast — the same bounded-reference envelope class as the
    * band map. Above this (or the band cap) the banded-join route runs; it
    * handles every input.
    * Mutable only as a test seam (the equality spec forces the join route).
    */
  private[graft] var refTokenBroadcastCap: Long = 8000000L

  def minhashDedupAgainst(corpus: DataFrame, reference: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          numHashes: Int = 32, numBands: Int = 16): DataFrame = {
    require(numBands >= 1 && numHashes / numBands >= 1,
      s"numBands $numBands must leave >= 1 signature row per band at $numHashes hashes (0-row bands would hash every doc into one bucket)")
    val spark = corpus.sparkSession
    import spark.implicits._
    // the broadcast routes collect ids as longs — gate on integral id types
    // (cf. nearDupClusters' longIds check); string-id callers keep the
    // join route, which handles any id type
    val idsIntegral = Seq(corpus, reference).forall(_.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    val sigC = minhashSignatures(corpus, idCol, textCol, numHashes).localCheckpoint(true)
    val sigR = minhashSignatures(reference, idCol, textCol, numHashes).localCheckpoint(true)
    // ref band rows are bounded (ref docs × bands); ONE limit-guarded
    // collect both probes the size and fetches the rows (the r20 shape ran
    // a separate limit+count job first — VERDICT r20 item 7)
    val refBandRows: Array[(Int, Long, Long)] =
      if (!idsIntegral) null
      else {
        val page = bandHashes(sigR, numBands)
          .select(col("band"), col("band_hash"), col("id").cast("long"))
          .as[(Int, Long, Long)]
          .limit(refBroadcastCap.toInt + 1).collect()
        if (page.length <= refBroadcastCap) page else null
      }
    // reference token arrays (the rescore's right side) are bounded by the
    // same assumption; the fused route runs only when they fit the cap too
    val refToks: Array[(Long, Array[Long])] =
      if (refBandRows == null) null
      else {
        val tb = reference.select(col(idCol).cast("long").as("id"),
            sort_array(array_distinct(transform(tokenSet(col(textCol)),
              t => xxhash64(t)))).as("toks"))
          .filter(size(col("toks")) > 0)
          .as[(Long, Array[Long])].collect()
        if (tb.iterator.map(_._2.length.toLong).sum <= refTokenBroadcastCap) tb
        else null
      }
    if (refToks != null) {
      // FUSED broadcast probe + rescore (guide §8: decide against the small
      // side, move the big side's rows once): per band, hash -> sorted ref
      // ids, and one compiled pass over (id, bands, toks)
      val perBand: Array[scala.collection.Map[Long, Array[Long]]] =
        Array.tabulate(numBands) { b =>
          refBandRows.iterator.filter(_._1 == b)
            .toArray.groupBy(_._2)
            .map { case (h, rows) => h -> rows.map(_._3).sorted }
        }
      val bc = spark.sparkContext.broadcast(perBand)
      val refTokMap = new java.util.HashMap[Long, Array[Long]](refToks.length * 2)
      refToks.foreach { case (id, t) => refTokMap.put(id, t) }
      val tc = spark.sparkContext.broadcast(refTokMap)
      val toksC = corpus.select(col(idCol).cast("long").as("id"),
          sort_array(array_distinct(transform(tokenSet(col(textCol)),
            t => xxhash64(t)))).as("__toks"))
        .filter(size(col("__toks")) > 0)
      val dirtyIds = sigC.select(col("id").cast("long").as("id"),
          bandHashArray(numBands).as("__bh"))
        .join(toksC, Seq("id"))
        .as[(Long, Seq[Long], Seq[Long])]
        .mapPartitions { it =>
          val maps = bc.value
          val toks = tc.value
          it.flatMap { case (idA, hs, ta0) =>
            // gather candidate ref ids across bands, dedupe by sort
            var total = 0
            val bufs = new Array[Array[Long]](hs.length)
            var b = 0
            while (b < hs.length && b < maps.length) {
              val hit = maps(b).getOrElse(hs(b), null)
              bufs(b) = hit
              if (hit != null) total += hit.length
              b += 1
            }
            if (total == 0) Iterator.empty
            else {
              val all = new Array[Long](total)
              var off = 0
              b = 0
              while (b < bufs.length) {
                val a = bufs(b)
                if (a != null) { System.arraycopy(a, 0, all, off, a.length); off += a.length }
                b += 1
              }
              java.util.Arrays.sort(all)
              val ta = ta0.toArray
              val szA = ta.length
              var dirty = false
              var i = 0
              while (!dirty && i < all.length) {
                if (i == 0 || all(i) != all(i - 1)) {
                  val tbArr = toks.get(all(i))
                  if (tbArr != null) {
                    // two-pointer |inter| over sorted distinct arrays —
                    // the SortedIntersectSize arithmetic, then the same
                    // double-division threshold cut as the SQL rescore
                    var x = 0; var y = 0; var inter = 0
                    while (x < szA && y < tbArr.length) {
                      val c = java.lang.Long.compare(ta(x), tbArr(y))
                      if (c == 0) { inter += 1; x += 1; y += 1 }
                      else if (c < 0) x += 1
                      else y += 1
                    }
                    val j = inter.toDouble / (szA + tbArr.length - inter).toDouble
                    if (j >= threshold) dirty = true
                  }
                }
                i += 1
              }
              if (dirty) Iterator.single(idA) else Iterator.empty
            }
          }
        }
      corpus.join(
        dirtyIds.toDF(idCol)
          .select(col(idCol).cast(corpus.schema(idCol).dataType)),
        Seq(idCol), "left_anti")
    } else {
      // banded-join route: string ids, or a reference above either cap
      val cand = bandHashes(sigC, numBands).as("a")
        .join(bandHashes(sigR, numBands).as("b"),
          col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val dirty = rescoreJaccardCross(cand, corpus, reference, idCol, textCol)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a").as(idCol)).distinct()
      corpus.join(dirty, Seq(idCol), "left_anti")
    }
  }

  /** 64-bit SimHash: each token contributes ±tf to each of 64 bit positions;
    * the sign of the accumulated position becomes the bit. Single-pass form:
    * per (doc, token) a 64-element ±tf vector, folded per doc with an
    * elementwise zip_with sum — one shuffle on doc id, no 64× row fan-out.
    *
    * The token hash is PORTABLE integer arithmetic (31-base polynomial mod
    * 1e9+7 over character codes, then 64 affine universal-hash bits), so any
    * ANSI-SQL engine can recompute the identical fingerprint — which is what
    * lets the driver's DuckDB oracle verify the simhash math end-to-end
    * instead of trusting an engine-private hash.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenization stays declarative (pushdown, codegen); the per-token
    // hash and 64-lane ±tf fold run in a compiled group mapper: as Column
    // higher-order functions they were interpreted per (token, lane) — a
    // ~5× constant factor on the hash stage. Bit-identical output (the
    // DuckDB oracle recomputes the same integer math). Ids must be integral.
    val spark = df.sparkSession
    import spark.implicits._
    df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"simhash requires an integral id column; '$idCol' is $other — " +
        "map string/other ids to a dense long (e.g. xxhash64 or a dictionary) first")
    }
    // ONE shuffle keyed on doc id: token rows group straight into the
    // compiled mapper, which builds the per-doc term-frequency table
    // in-memory (bounded by a single document's vocabulary) and folds the
    // 64 ±tf lanes in the same pass — the previous (id, tok) pre-aggregate
    // was a second full shuffle for work a per-doc hash map does for free.
    df.select(col(idCol).cast("long").as("id"),
        explode(array_remove(split(lower(col(textCol)), "\\s+"), "")).as("tok"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroups { (id, rows) =>
        val tf = new scala.collection.mutable.HashMap[String, Long]()
        rows.foreach { case (_, tok) => tf.update(tok, tf.getOrElse(tok, 0L) + 1L) }
        val sums = new Array[Long](64)
        tf.foreach { case (tok, n) =>
          var th = 0L
          var i = 0
          while (i < tok.length) { th = (th * 31 + tok.charAt(i).toLong) % 1000000007L; i += 1 }
          var b = 0
          while (b < 64) {
            val bit = ((th * ((b * 2654435761L + 1L) % 1000000007L) + b) % 1000000007L) % 2L
            sums(b) += (if (bit == 1L) n else -n)
            b += 1
          }
        }
        var h = 0L
        var b = 0
        while (b < 64) { if (sums(b) > 0) h |= (1L << b); b += 1 }
        (id, h)
      }
      .toDF("id", "simhash")
  }

  /** Near-dup candidates by SimHash: block on numChunks equal slices of the
    * 64-bit fingerprint (pigeonhole: any pair within hamming distance
    * numChunks−1 shares a chunk), then exact popcount filter.
    */
  def simhashPairs(hashes: DataFrame, maxHamming: Int,
                   numChunks: Int = 4): DataFrame = {
    // materialize the (id, simhash) frame once — 2 longs per doc — so the
    // chunk self-join's two sides read cached blocks instead of re-running
    // the whole simhash pipeline (scan + tf aggregate + 64-lane fold) twice
    val h = hashes.localCheckpoint(true)
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    val chunked = h.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(numChunks - 1))).as("chunk"))
      .withColumn("chunk_val", expr(s"(simhash >> (chunk * $bits)) & $mask"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("h_a"), col("b.simhash").as("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(expr("h_a ^ h_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-duplicate clusters: connected components over a pair set, as
    * iterative min-label propagation with pointer jumping — each round a
    * doc takes the minimum label in its neighborhood, then adopts its
    * label's own label, so the distance to the component minimum shrinks
    * geometrically and fixpoint lands in O(log diameter) rounds (chain-
    * shaped duplicate clusters, routine in near-dup corpora, stay well
    * inside `maxIters`). The cluster id is the smallest doc id reachable,
    * i.e. exactly the representative `exact`/`jaccardPairs` keep: this is
    * the step that turns a pair list into "keep one per duplicate group".
    *
    * Each iteration is one join + one groupBy keyed on doc id — linear
    * shuffles, no driver state. Every round eagerly truncates its labels'
    * lineage: iterative self-referencing lineage otherwise grows the logical
    * plan exponentially (the plan STRING alone can OOM the driver by ~10
    * iterations); truncation keeps the per-round plan O(1).
    *
    * `checkpointDir` picks the truncation mechanism: None (default) uses
    * eager `localCheckpoint` — blocks live only on executors, fine for
    * local/tests, but an executor loss mid-iteration kills the job; a
    * cluster deployment passes a shared directory (HDFS/object store) and
    * gets RELIABLE `checkpoint` — each round's labels survive executor loss
    * and the loop resumes from the last materialized round. Superseded
    * rounds' local blocks are reclaimed by Spark's ContextCleaner as their
    * frames go unreachable; reliable-checkpoint files are cleaned by
    * `spark.cleaner.referenceTracking.cleanCheckpoints` or dir TTL.
    */
  /** Eager lineage truncation: reliable `checkpoint` under `checkpointDir`
    * (survives executor loss — the cluster deployment) or executor-pinned
    * `localCheckpoint` when None. The caller's explicit dir WINS: if the
    * context's configured checkpoint dir is not already under the requested
    * one, it is re-pointed — silently checkpointing into whatever dir some
    * earlier code configured (possibly a local path) would defeat the
    * executor-loss guarantee the caller asked for. setCheckpointDir creates
    * a per-app random subdir under `dir`, hence the prefix test.
    */
  private[ops] def truncateLineage(df: DataFrame,
                                   checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // compare scheme-normalized paths: getCheckpointDir returns a
        // scheme-qualified URI (file:/...) even for a bare-path request
        val want = new org.apache.hadoop.fs.Path(dir).toUri.getPath
        val under = sc.getCheckpointDir.exists { d =>
          val have = new org.apache.hadoop.fs.Path(d).toUri.getPath
          have == want || have.startsWith(want.stripSuffix("/") + "/")
        }
        if (!under) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(true)
    }

  /** Pair count at or below which connected components run as a driver-side
    * union-find over the COLLECTED pair list instead of the distributed
    * label-propagation loop. The pair list is the lightweight DECISION data
    * of a dedup pipeline (two longs per edge — the payloads never ride it),
    * and below the cap it is KB-to-MB scale: 1M edges collect as ~16 MB,
    * the same envelope class as the repo's other bounded driver collects
    * (IVF/PQ codebooks, auto-k seed sets, Bloom reference sketches). The
    * distributed loop pays ~6 jobs × O(cores) tasks PER ROUND regardless of
    * data size — measured round-20 (OptProbe, local[32], sf0.1): the x47
    * pair graph is 753 edges and its CC loop still burned 2.6 s wall /
    * 8.2 CPU-s, i.e. the loop was 100% scheduling overhead. Union-find on
    * the driver answers the same 753 edges in microseconds. Past the cap
    * (huge near-dup graphs at corpus scale) the pointer-jumping loop below
    * is unchanged — O(log diameter) rounds of linear shuffles.
    * Mutable only as a test seam: the equality/convergence specs set it to
    * force the distributed path on spec-sized graphs.
    */
  private[graft] var ccDriverEdgeCap: Long = 1000000L

  def nearDupClusters(pairs: DataFrame, maxIters: Int = 30,
                      checkpointDir: Option[String] = None): DataFrame = {
    // lineage truncation for one round's labels (see scaladoc)
    def truncate(df: DataFrame): DataFrame = truncateLineage(df, checkpointDir)
    // the PAIR LIST is truncated first, alone: `pairs` is usually an
    // expensive candidate-generation subplan (LSH banding / an inverted-
    // index self-join), and building the symmetric edge set as
    // union(pairs, swap(pairs)) BEFORE materializing executed that
    // generator twice in the truncation job (Spark plans the two union
    // sides independently); a persist instead of truncation keeps the
    // whole tree in the logical plan — every round's jobs then re-analyze
    // it (cache hits save the compute, not the planning), which measured
    // as ~2.5x the loop's own CPU at 32 threads (CcProbe). The truncated
    // frame is one LogicalRDD leaf, reused by the size probe, the driver
    // fast path, and the loop's symmetric union alike.
    val p = truncate(pairs.select(col("id_a"), col("id_b")))
    val spark = p.sparkSession
    val longIds = p.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // ONE limit-guarded collect both probes the size and fetches the edges
    // (the r20 shape ran a count() job first — and paid it even when the
    // distributed path was taken); at most cap+1 rows (~16 MB) ever land
    val es: Array[(Long, Long)] =
      if (!longIds) null
      else {
        import spark.implicits._
        val page = p.limit(ccDriverEdgeCap.toInt + 1).as[(Long, Long)].collect()
        if (page.length <= ccDriverEdgeCap) page else null
      }
    if (es != null) {
      import spark.implicits._
      // driver fast path: union-find with min-id roots — identical output
      // contract to the loop (every node that appears in a pair labeled by
      // the smallest id reachable from it), pinned by the equality spec.
      // PRIMITIVE open-addressing parent map (round-21, ADVICE r20): two
      // long arrays + a used bitmap at load <= 0.5 hold the 2M-node worst
      // case in ~68 MB, where the boxed java.util.HashMap held ~90 B/node
      // (~180 MB) right at the cap.
      val nSlots = math.max(8,
        java.lang.Integer.highestOneBit(math.max(1, es.length)) * 8)
      val mask = nSlots - 1
      val keys = new Array[Long](nSlots)
      val vals = new Array[Long](nSlots)
      val used = new Array[Boolean](nSlots)
      var size = 0
      def slot(k: Long): Int = {
        var h = k * -7046029254386353131L   // 64-bit odd mixer + fold
        h ^= (h >>> 32)
        var i = h.toInt & mask
        while (used(i) && keys(i) != k) i = (i + 1) & mask
        i
      }
      def put(k: Long, v: Long): Unit = {
        val i = slot(k)
        if (!used(i)) { used(i) = true; keys(i) = k; size += 1 }
        vals(i) = v
      }
      def get(k: Long): Long = vals(slot(k))
      def find(x0: Long): Long = {
        var r = x0
        while (get(r) != r) r = get(r)
        var c = x0
        while (c != r) { val n = get(c); put(c, r); c = n }
        r
      }
      es.foreach { case (a, b) =>
        if (!used(slot(a))) put(a, a)
        if (!used(slot(b))) put(b, b)
        val ra = find(a); val rb = find(b)
        // attach the larger root under the smaller: roots stay component
        // minima with no separate min bookkeeping
        if (ra < rb) put(rb, ra) else if (rb < ra) put(ra, rb)
      }
      val out = new Array[(Long, Long)](size)
      var i = 0
      var j = 0
      while (i < nSlots) {
        if (used(i)) { out(j) = (keys(i), find(keys(i))); j += 1 }
        i += 1
      }
      // RDD-backed (not a LocalRelation): a million-row local relation
      // would ride the logical plan of every downstream join
      val parts = math.max(1, out.length / 500000)
      return spark.createDataset(
          spark.sparkContext.parallelize(out.toIndexedSeq, parts))
        .toDF("doc_id", "cluster_id")
    }
    val edges = truncate(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst"))))
    locally {
      // seed with the FIRST neighbor-min fold fused into initialization:
      // label(v) = min(v, min neighbor) — edges are symmetric so every node
      // appears as src, and one round's work rides the init materialization
      var labels = truncate(edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("label")))
      var changed = true
      var i = 0
      while (changed && i < maxIters) {
        val prop = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(col("src").as("id")).agg(min(col("label")).as("nlabel"))
        // pointer jumping: adopt the label OF one's label (labels are node
        // ids, so the lookup is a self-join). This halves the remaining
        // distance to the component minimum every round — O(log diameter)
        // rounds instead of O(diameter), which is what keeps chain-shaped
        // duplicate clusters (A~B~C~…, routine in near-dup corpora) inside
        // the iteration bound at scale. The lookup table is the PREVIOUS
        // round's materialized labels — one hop staler than jumping through
        // this round's neighbor-min output, still monotone and convergent
        // (labels only decrease, toward the component min), and it lets the
        // whole round (neighbor-min + jump + change flag) materialize as ONE
        // job instead of two, with the O(E) propagate join executed once.
        val lbl = labels.select(col("id").as("__lid"), col("label").as("__llabel"))
        val next = truncate(labels.select(col("id"), col("label").as("__prev"))
          .join(prop, Seq("id"), "left")
          .select(col("id"),
            least(col("__prev"), coalesce(col("nlabel"), col("__prev"))).as("label"),
            col("__prev"))
          .join(lbl, col("label") === col("__lid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__llabel"), col("label"))).as("label"),
            (least(col("label"), coalesce(col("__llabel"), col("label")))
              < col("__prev")).as("__changed")))
        changed = next.filter(col("__changed")).limit(1).count() > 0
        labels = next.select(col("id"), col("label"))
        i += 1
      }
      if (changed) throw new IllegalStateException(
        s"nearDupClusters did not converge within maxIters=$maxIters " +
        "(a component's diameter exceeds the iteration bound); raise maxIters " +
        "— returning unconverged labels would silently split clusters")
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }
  }

  /** Materialize the dedup decision a pair/cluster analysis implies: keep
    * each cluster's canonical member (the min-id representative that is the
    * cluster's label in `nearDupClusters` output) plus every unclustered
    * doc. One anti-join against the non-canonical member list — the member
    * list is tiny relative to the corpus (only docs inside dup clusters),
    * so Spark broadcasts it and the corpus is never shuffled.
    */
  def keepCanonical(df: DataFrame, clusters: DataFrame, idCol: String): DataFrame = {
    val nonCanonical = clusters.filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as(idCol))
    df.join(broadcast(nonCanonical), Seq(idCol), "left_anti")
  }

  /** Drop every corpus document whose exact text also appears in a reference
    * corpus (blocklist, already-trained shard, benchmark dump) — an
    * anti-join by content fingerprint, GATED by a Bloom filter so the big
    * side never shuffles: the filter is built over the (bounded) reference
    * fingerprints and broadcast; corpus rows it definitely-rejects keep
    * their narrow scan-pipelined path, and only the "maybe" rows — true
    * matches plus the fpp sliver of false positives — enter the exact
    * anti-join that decides. No false negatives (Bloom guarantee), false
    * positives are re-checked exactly, so the result EQUALS the plain
    * anti-join — which is what lets a result-equality oracle gate the whole
    * gadget.
    *
    * Two physical routes, picked by the known reference cardinality:
    * broadcastable reference → ONE corpus scan, zero shuffle (a broadcast
    * anti-join whose condition is bloom-gated, so definite-misses skip the
    * hash probe); reference too big to broadcast → the corpus is scanned
    * twice but only the "maybe" sliver (matches + fpp·|corpus|) ever
    * shuffles into the sort-merge anti-join — at 100 TB a rescan of a
    * columnar source is far cheaper than shuffling the full corpus by
    * fingerprint.
    *
    * The membership probe is a closure over the broadcast sketch — the one
    * place a UDF is the honest tool (Spark's BloomFilterMightContain
    * expression is internal to runtime-filter injection, not a public
    * Column function). The probe treats a null fingerprint (null text) as
    * "definitely absent": an anti-join null key never matches, so null-text
    * rows are kept, same as the plain anti-join.
    */
  def bloomDedupAgainst(corpus: DataFrame, reference: DataFrame, idCol: String,
                        textCol: String, fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val ref = reference.select(md5(col(textCol)).as("__fp")).distinct()
      .localCheckpoint(true)   // feeds the sketch build AND the verify join
    val expected = math.max(ref.count(), 1L)
    val bloom = ref.stat.bloomFilter("__fp", expected, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightContain =
      udf((fp: String) => fp != null && bloomBc.value.mightContainString(fp))
    val withFp = corpus.withColumn("__fp", md5(col(textCol)))
    val result =
      // the broadcast route ships every reference fingerprint to every
      // executor: 200k 32-char strings ≈ 15 MB as a hash relation — a safe
      // forced broadcast. Beyond that, the two-path route keeps the probe
      // sketch (KBs) broadcast and only the maybe-sliver shuffles.
      if (expected <= 200000L) {
        withFp.join(broadcast(ref),
          mightContain(withFp("__fp")) && withFp("__fp") === ref("__fp"),
          "left_anti")
      } else {
        val definiteKeep = withFp.filter(!mightContain(col("__fp")))
        val confirmedKeep = withFp.filter(mightContain(col("__fp")))
          .join(ref, Seq("__fp"), "left_anti")
        definiteKeep.unionByName(confirmedKeep)
      }
    result.drop("__fp")
  }

  /** WITHIN-document duplicated-span removal, the exact-substring dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (2022), approximated at fixed token-window granularity: chunk every
    * document into consecutive w-token windows, keep only the globally
    * FIRST occurrence (by (doc id, position)) of each distinct window, and
    * reassemble each document from its surviving windows. Unlike the
    * doc-level dedup family above, this removes repeated passages (license
    * headers, quoted chain-mails, templated sections) while keeping the
    * novel remainder of every document.
    *
    * Shape: one explode hashing each window to 8 bytes (the chunk STRING
    * never rides a shuffle), one groupBy(hash) picking the winning
    * occurrence as min(struct(doc_id, pos)) — map-side partial aggregation
    * absorbs a corpus-wide boilerplate chunk before the exchange, unlike a
    * row_number window (whose per-key partitions AQE can NOT split; AQE
    * skew handling applies to joins only) — one hash-keyed join-back to
    * flag winners (a skewed hot hash here IS AQE-splittable), and one
    * doc_id join against the source to re-slice surviving spans from the
    * original text. No suffix array, no all-pairs; the only text-scale
    * shuffle is the single doc_id-keyed re-slice join.
    *
    * Returns (doc_id, n_chunks, n_kept, clean_text); a fully-duplicated
    * document survives as an empty clean_text row (the caller decides
    * whether to drop it), and chunk order is restored by position.
    */
  /** Non-overlapping w-token windows per document, position-indexed:
    * (doc_id, pos, chunk). The trailing partial window is kept. */
  private def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1 token, got $w")
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"), posexplode(
        when(size(col("__toks")) === 0, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), ((size(col("__toks")) - 1) / w).cast("int")),
            i => concat_ws(" ", slice(col("__toks"), i * w + 1, lit(w)))))))
      .toDF("doc_id", "pos", "chunk")
  }

  /** Hash-keyed chunk frame (doc_id, pos, __ch): the 8-byte-payload form
    * of tokenChunks that all shuffling stages operate on. */
  private def hashedChunks(df: DataFrame, idCol: String, textCol: String,
                           w: Int): DataFrame =
    tokenChunks(df, idCol, textCol, w)
      .select(col("doc_id"), col("pos"), xxhash64(col("chunk")).as("__ch"))

  /** Reassemble (doc_id, n_chunks, n_kept, clean_text) from a keep-flag
    * frame (doc_id, pos, __keep) by RE-SLICING surviving windows out of the
    * source text — chunk strings never shuffle; only (doc_id, kept
    * positions) meets the source in one doc_id equi-join. Right-joined to
    * the source so a zero-token (empty/whitespace) document — which
    * contributes no chunk rows at all — still comes back as
    * (doc_id, 0, 0, ''), same as a fully-duplicated one. */
  private def reassembleFromSource(flags: DataFrame, src: DataFrame,
                                   idCol: String, textCol: String,
                                   w: Int): DataFrame = {
    val perDoc = flags.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("__keep"), col("pos"))))
          .as("__kept_pos"))
    perDoc
      .join(src.select(col(idCol).as("doc_id"),
          TextAnalysis.tokens(lower(col(textCol))).as("__toks")),
        Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(array_join(transform(col("__kept_pos"),
          p => concat_ws(" ", slice(col("__toks"), p * w + 1, lit(w)))),
          " "), lit("")).as("clean_text"))
  }

  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                w: Int, checkpointDir: Option[String] = None): DataFrame = {
    // the chunk frame feeds the winners aggregate AND the flag join-back —
    // materialize the tokenize+explode+hash scan once, not twice
    // (checkpointDir = reliable HDFS checkpoint for cluster deployments,
    // same knob as nearDupClusters; default localCheckpoint is
    // executor-pinned)
    val chunks = truncateLineage(
      hashedChunks(df, idCol, textCol, w), checkpointDir)
    val winners = chunks.groupBy(col("__ch"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__w"))
    val flags = chunks.join(winners, Seq("__ch"))
      .select(col("doc_id"), col("pos"),
        (col("__w.doc_id") === col("doc_id") &&
         col("__w.pos") === col("pos")).as("__keep"))
    reassembleFromSource(flags, df, idCol, textCol, w)
  }

  /** Boilerplate chunk REMOVAL — the df-threshold complement of
    * [[spanDedup]]: strip EVERY occurrence of a w-token chunk that appears
    * in ≥ `minDf` distinct documents (headers, navigation, license
    * banners — content repeated across documents should not survive even
    * once, unlike accidental duplication where spanDedup keeps the first
    * copy). This is the CCNet/RefinedWeb repeated-line removal rule
    * (Wenzek 2020 §3.1; Penedo 2023 §G) at token-chunk granularity —
    * TextAnalysis.boilerplateScore measures per-doc boilerplate fraction,
    * this rewrites the text. Returns (doc_id, n_chunks, n_kept,
    * clean_text).
    *
    * 100 TB shape: one hashed-chunk scan feeds both the (hash → doc-df)
    * aggregate (8-byte keys, map-side partials absorb the hot boilerplate
    * chunks by construction) and the keep-flag join; chunk strings never
    * shuffle (re-slice reassembly, see reassembleFromSource).
    */
  def boilerplateStrip(df: DataFrame, idCol: String, textCol: String,
                       w: Int, minDf: Long,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val chunks = truncateLineage(
      hashedChunks(df, idCol, textCol, w), checkpointDir)
    val boiler = chunks.groupBy(col("__ch"))
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__ch"), lit(1).as("__hit"))
    val flags = chunks.join(boiler, Seq("__ch"), "left")
      .select(col("doc_id"), col("pos"), col("__hit").isNull.as("__keep"))
    reassembleFromSource(flags, df, idCol, textCol, w)
  }

  /** SURGICAL decontamination: strip from every corpus document the w-token
    * spans whose content appears as a contiguous token run ANYWHERE in a
    * reference corpus (benchmark dump, blocklist) — at any offset, not just
    * w-aligned ones — keeping the rest of the document; the span-level
    * counterpart of Decontaminate.removeContaminated (which drops whole
    * docs). The reference side is built from SLIDING grams of every length
    * 1..w so that full-w corpus spans match at arbitrary reference
    * alignment and partial tail spans (the final len%w tokens of a doc)
    * match any same-length reference run. Returns
    * (doc_id, n_chunks, n_kept, clean_text).
    *
    * Shape: the reference's distinct sliding-gram hashes are a bounded set
    * (benchmarks are small; ≤ w·tokens grams) → broadcast; the corpus is
    * chunked and probed in one scan, so the only corpus-scale shuffles are
    * the per-doc keep-flag groupBy (ints) and the re-slice join. A hash
    * collision can only WRONGLY DROP one span (P ≈ spans·refSpans/2^64 —
    * negligible, and the string-keyed oracle would surface it).
    */
  def spanDedupAgainst(corpus: DataFrame, reference: DataFrame, idCol: String,
                       textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1 token, got $w")
    val refToks = reference
      .select(TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
    val gramCols = (1 to w).map(g =>
      TextAnalysis.wordNgramsOf(col("__toks"), g))
    val refSpans = refToks
      .select(explode(flatten(array(gramCols: _*))).as("chunk"))
      .select(xxhash64(col("chunk")).as("__ch")).distinct()
      .withColumn("__hit", lit(1))
    val flags = hashedChunks(corpus, idCol, textCol, w)
      .join(broadcast(refSpans), Seq("__ch"), "left")
      .select(col("doc_id"), col("pos"), col("__hit").isNull.as("__keep"))
    reassembleFromSource(flags, corpus, idCol, textCol, w)
  }

  /** Content-defined chunk dedup (gear-style CDC at token granularity): a
    * chunk boundary falls AFTER every token whose portable char-fold hash
    * is ≡ 0 mod `avgChunk`, so boundaries are a function of CONTENT, not
    * position — an insertion early in a document shifts every fixed
    * window (spanDedup) but CDC chunks re-synchronize at the next
    * boundary, the property dedup/backup systems buy with content-defined
    * chunking (expected chunk length = avgChunk tokens). Chunks dedup
    * corpus-wide by first occurrence (min (doc_id, chunk_id)); returns
    * per-doc (doc_id, n_chunks, n_uniq_chunks, n_dup_tokens) — zero-token
    * docs come back as (0, 0, 0) rows.
    *
    * The boundary hash is an explicit char fold h → (h·31 + codepoint)
    * mod 1e9+7 — no engine-private hash in the boundary decision, so an
    * external SQL oracle recomputes chunking row-for-row. Shape: one
    * tokenize+explode scan, ONE doc-partitioned window pass (chunk-id
    * cumsum + chunk-start share the exchange), then chunk identity as an
    * order-sensitive positional hash SUM — fully map-side
    * partial-aggregatable, so no token string ever crosses the
    * (doc, chunk) or winners exchanges (see inline note).
    */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
                    avgChunk: Int): DataFrame = {
    require(avgChunk >= 2, s"avgChunk must be >= 2 tokens, got $avgChunk")
    val p = 1000000007L
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextAnalysis.tokens(lower(col(textCol)))).as(Seq("pos", "tok")))
      .withColumn("__h", aggregate(
        transform(array_remove(split(col("tok"), ""), ""),
          c => ascii(c).cast("long")),
        lit(0L), (h, c) => pmod(h * 31L + c, lit(p))))
      .withColumn("__boundary", pmod(col("__h"), lit(avgChunk.toLong)) === 0L)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // chunk identity is an ORDER-SENSITIVE hash that sums per-token
    // xxhash64(token, position-within-chunk) — sum/count are map-side
    // partial-aggregatable, so token strings never cross the (doc, chunk)
    // exchange (a collect_list reassembly would shuffle every token with
    // no combine); equal token sequences sum identically, different
    // orders pair different positions (collisions ≈ chunks²/2^64, and
    // the string-keyed oracle would surface one). chunk_start rides the
    // SAME doc-partitioned window as the boundary cumsum — one exchange.
    val chunked = toks
      .withColumn("chunk_id",
        coalesce(sum(when(col("__boundary"), 1L).otherwise(0L)).over(wPrev), lit(0L)))
      .withColumn("__start_flag",
        col("pos") === 0 || lag(col("__boundary"), 1, false).over(wOrd))
      .withColumn("__chunk_start",
        last(when(col("__start_flag"), col("pos")), ignoreNulls = true).over(wRun))
    val chunks = chunked.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("__n_toks"),
        // decimal sum: a long sum of 64-bit hashes overflows under ANSI
        sum(xxhash64(col("tok"), col("pos") - col("__chunk_start"))
          .cast("decimal(38,0)")).as("__ch"))
    val winners = chunks.groupBy(col("__ch"), col("__n_toks"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__w"))
    val perDoc = chunks.join(winners, Seq("__ch", "__n_toks"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__w.doc_id") === col("doc_id") &&
                 col("__w.chunk_id") === col("chunk_id"), 1L).otherwise(0L))
          .as("n_uniq_chunks"),
        sum(when(col("__w.doc_id") === col("doc_id") &&
                 col("__w.chunk_id") === col("chunk_id"), 0L)
          .otherwise(col("__n_toks"))).as("n_dup_tokens"))
    perDoc.join(df.select(col(idCol).cast("long").as("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_uniq_chunks"), lit(0L)).as("n_uniq_chunks"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }
}
