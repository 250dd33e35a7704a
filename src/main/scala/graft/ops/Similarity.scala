package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (north-star extension).
  *
  * Two paths:
  *  - brute force: broadcast the (small) query set against the full corpus,
  *    exact cosine, per-query top-k. Exact and oracle-checkable; the
  *    candidate stream is embarrassingly parallel, the only shuffle is the
  *    final per-query top-k (tiny: queries × k rows after partial ranking).
  *  - LSH (random hyperplane / SRP): deterministic pseudo-random projection
  *    signs bucket vectors; only same-bucket pairs are scored. L tables ×
  *    P planes trade recall vs candidate count — the 100 TB path.
  *
  * All math is double-precision Column expressions (codegen'd, no UDFs).
  */
object Similarity {

  /** Cosine similarity of two array<float|double> columns (double math).
    * A native codegen'd expression: the HOF form (`aggregate(zip_with(...))`)
    * is interpreted per element and dominated ANN rescoring; the expression
    * emits one fused Java loop with identical summation order (bit-identical
    * results, so the rounded-cosine oracles are unaffected).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.CosineSimExpression.cosine(a, b)

  /** Exact top-k neighbors for each query id. `queries` must be small enough
    * to broadcast (it is the page of ids being searched, not the corpus).
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    val q = corpus.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("query_vec"), col("vec")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** ANN top-k via SRP-LSH: L tables of P planes; same-bucket candidates are
    * exact-rescored, then per-query top-k. Recall rises with L; candidate
    * count falls with P.
    *
    * @param dim embedding dimensionality — lets the plane matrices be plan
    *            literals (codegen'd constants) instead of per-row hashing
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              numPlanes: Int = 12, numTables: Int = 4, dim: Int = 64): DataFrame = {
    // ONE corpus scan emits all L (table, bucket) entries per row — L tables
    // never mean L scans. The SRP dot products run in a compiled partition
    // mapper over the precomputed ±1 plane weights: expressing L×P dim-wide
    // literal arrays as Column folds made the plan tree O(L·P·dim) nodes and
    // the query analysis/interpretation-dominated; the typed mapper is O(1)
    // plan nodes, fully distributed, and JIT-compiled tight loops. Buckets
    // carry only (table, bucket, id); vectors are attached AFTER the
    // candidate set is deduped, so the explode/distinct never shuffles
    // embedding arrays.
    val weights: Array[Array[Array[Double]]] =
      Array.tabulate(numTables, numPlanes, dim)((t, p, d) =>
        if (splitmix64(t.toLong * 1000003L + p.toLong * 8191L + d) % 2 == 0) 1.0 else -1.0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val tables = corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          (0 until numTables).iterator.map { t =>
            var bucket = 0L
            var p = 0
            while (p < numPlanes) {
              val w = weights(t)(p)
              var s = 0.0
              var d = 0
              val n = math.min(v.length, dim)
              while (d < n) { s += v(d) * w(d); d += 1 }
              if (s > 0) bucket |= (1L << p)
              p += 1
            }
            (t, bucket, id)
          }
        }
      }
      .toDF("table", "bucket", "id")
      // 3 longs per (doc, table) row, read by both the query-side filter and
      // the corpus side of the bucket join — materialize once instead of
      // running the SRP bucketer scan twice
      .localCheckpoint(true)
    val q = tables.filter(col("id").isin(queryIds: _*))
      .select(col("table").as("q_table"), col("bucket").as("q_bucket"),
        col("id").as("query_id"))
    val cand = tables.join(broadcast(q),
        col("table") === col("q_table") && col("bucket") === col("q_bucket") &&
        col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .distinct()
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val scored = cand
      .join(broadcast(vecs.filter(col("vid").isin(queryIds: _*)))
        .withColumnRenamed("vid", "query_id").withColumnRenamed("v", "query_vec"),
        Seq("query_id"))
      .join(vecs, col("neighbor_id") === col("vid"))
      .withColumn("cos", cosine(col("query_vec"), col("v")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** All embedding near-duplicate pairs (a < b, cosine >= threshold) via
    * SRP-LSH bucketing, candidates-then-verify: pairs sharing any (table,
    * bucket) are proposed by an equi-join — never a cross join — and exact
    * cosine decides. Output equals the exact all-pairs result whenever
    * bucket recall is total at the threshold; with few planes and many
    * tables the miss probability per qualifying pair is (1−p^P)^L for
    * p = 1 − θ/π. This is the 100 TB form of the bounded cross-join
    * baseline (`x13`): candidate volume is sum of bucket-pair sizes, tuned
    * by P (bucket granularity) vs L (recall).
    */
  def lshNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double,
                      numPlanes: Int = 2, numTables: Int = 24): DataFrame = {
    val weights: Array[Array[Array[Double]]] =
      Array.tabulate(numTables, numPlanes, 64)((t, p, d) =>
        if (splitmix64(t.toLong * 1000003L + p.toLong * 8191L + d) % 2 == 0) 1.0 else -1.0)
    val spark = corpus.sparkSession
    import spark.implicits._
    val buckets = corpus
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          (0 until numTables).iterator.map { t =>
            var bucket = 0L
            var p = 0
            while (p < numPlanes) {
              val w = weights(t)(p)
              var s = 0.0
              var d = 0
              val n = math.min(v.length, 64)
              while (d < n) { s += v(d) * w(d); d += 1 }
              if (s > 0) bucket |= (1L << p)
              p += 1
            }
            (t, bucket, id)
          }
        }
      }
      .toDF("table", "bucket", "id")
      // both sides of the bucket self-join — one bucketer scan, not two
      .localCheckpoint(true)
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = corpus.select(col(idCol).cast("long").as("vid"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("vid").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** ANN top-k via IVF (inverted-file) coarse quantization: numCentroids
    * corpus vectors chosen by a deterministic hash-order sample act as the
    * coarse codebook; every vector is assigned to its nearest centroid (one
    * scan, compiled argmax loop); a query probes its nprobe nearest
    * centroids' posting lists, rescoring candidates with exact cosine.
    *
    * The 100 TB shape: assignment is a single mapPartitions scan (centroid
    * matrix broadcast via closure), posting lists shuffle once on cluster
    * id, and the probe join touches nprobe/numCentroids of the corpus.
    * Recall rises with nprobe; nprobe = numCentroids degenerates to exact.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              numCentroids: Int = 16, nprobe: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    // deterministic pseudo-random codebook: smallest xxhash64(id) wins —
    // stable across runs/partitionings, no RNG
    val centroids: Array[Array[Double]] = base
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(numCentroids)
      .as[(Long, Seq[Double])].collect().map(_._2.toArray)

    def nearest(v: Seq[Double], n: Int): Seq[Int] = {
      val sims = centroids.map { c =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        val len = math.min(v.length, c.length)
        while (i < len) { dot += v(i) * c(i); na += v(i) * v(i); nb += c(i) * c(i); i += 1 }
        dot / math.max(1e-300, math.sqrt(na) * math.sqrt(nb))
      }
      sims.zipWithIndex.sortBy { case (s, i) => (-s, i) }.take(n).map(_._2).toSeq
    }

    val assigned = base.as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (id, v) => (nearest(v, 1).head, id) })
      .toDF("cluster", "id")
    val probes = base.filter(col("id").isin(queryIds: _*))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.flatMap { case (id, v) =>
        nearest(v, nprobe).map(c => (id, c)) })
      .toDF("query_id", "cluster")
    val cand = assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .distinct()
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val scored = cand
      .join(broadcast(vecs.filter(col("vid").isin(queryIds: _*)))
        .withColumnRenamed("vid", "query_id").withColumnRenamed("v", "query_vec"),
        Seq("query_id"))
      .join(vecs, col("neighbor_id") === col("vid"))
      .withColumn("cos", cosine(col("query_vec"), col("v")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** ANN top-k via product quantization (PQ — Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): unit-normalize,
    * split each vector into `numSubspaces` contiguous sub-vectors, quantize
    * each sub-vector to its nearest entry of a per-subspace `numCodes`-entry
    * codebook, and store only the code bytes. A query builds an asymmetric-
    * distance (ADC) table of exact sub-distances to every code; a
    * candidate's approximate distance is the sum of `numSubspaces` table
    * lookups over its codes. The ADC top-`shortlist` per query is re-ranked
    * with exact cosine over the original vectors.
    *
    * 100 TB shape: the codebook is a TakeOrdered + KB-size collect (like the
    * IVF codebook); encoding is ONE compiled scan; search scans CODES (m
    * bytes/vector — a 32× read reduction at m=8 over 64 float dims), keeps a
    * bounded per-partition top-`shortlist` heap per query, and only
    * partitions × queries × shortlist candidate rows ever shuffle; the
    * re-rank join touches `shortlist` vectors per query.
    *
    * Engine-replayability (what the oracle gates): the codebook is the
    * `numCodes` smallest ids on an arithmetic stride (no RNG), sub-distances
    * are scaled to integers (round(d·1e6) as long) so code argmin and ADC
    * sums are order-independent integer math any engine reproduces, and ties
    * break toward the smaller code / id. The oracle replays the WHOLE
    * pipeline (normalize → codebook → encode → ADC shortlist → exact
    * re-rank) in SQL, so the gate is value-exact regardless of recall;
    * recall itself is a spec concern (see DedupSimilaritySpec).
    */
  /** Frozen PQ model: the per-subspace codebook plus geometry. Built once
    * (pqTrain), shipped to executors inside encode/search closures — a few
    * KB, like the IVF codebook — and REUSED verbatim by the streaming face
    * (VectorIndexSink's PQ codec), so stream- and batch-encoded codes are
    * bit-identical.
    */
  case class PqModel(cb: Array[Array[Double]], numSubspaces: Int,
                     numCodes: Int, dim: Int) extends Serializable {
    require(dim % numSubspaces == 0,
      s"dim $dim must be divisible by numSubspaces $numSubspaces")
    private val sub = dim / numSubspaces

    def normalize(raw: Seq[Double]): Array[Double] = {
      // a wrong `dim` must fail loudly, not silently truncate the encode
      // while the exact re-rank uses the full vector (recall would degrade
      // with no error surfacing anywhere)
      require(raw.length == dim,
        s"vector length ${raw.length} != configured dim $dim")
      val out = new Array[Double](dim)
      var s = 0.0; var i = 0
      while (i < dim) { s += raw(i) * raw(i); i += 1 }
      val inv = if (s == 0.0) 0.0 else 1.0 / math.sqrt(s)
      i = 0
      while (i < dim) { out(i) = raw(i) * inv; i += 1 }
      out
    }

    /** Scaled-integer squared L2 over subspace j — integer from here on, so
      * every downstream comparison/sum is bit-portable across engines.
      */
    def subDist(v: Array[Double], j: Int, c: Array[Double]): Long = {
      var s = 0.0
      var d = j * sub
      val end = d + sub
      while (d < end) { val t = v(d) - c(d); s += t * t; d += 1 }
      math.round(s * 1e6)
    }

    /** Code vector of a raw embedding (normalize, then per-subspace argmin;
      * strict < so ties break toward the low code).
      */
    def encode(raw: Seq[Double]): Array[Int] = {
      val v = normalize(raw)
      val cs = new Array[Int](numSubspaces)
      var j = 0
      while (j < numSubspaces) {
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < numCodes) {
          val d = subDist(v, j, cb(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        cs(j) = best
        j += 1
      }
      cs
    }

    /** Per-query asymmetric-distance table: exact sub-distance to every code. */
    def adcTable(raw: Seq[Double]): Array[Array[Long]] = {
      val v = normalize(raw)
      Array.tabulate(numSubspaces, numCodes)((j, c) => subDist(v, j, cb(c)))
    }
  }

  /** Deterministic PQ codebook from a corpus: the `numCodes` smallest ids on
    * an arithmetic stride, normalized — no RNG, engine-replayable (the
    * oracle's replay starts here).
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              numSubspaces: Int = 8, numCodes: Int = 16,
              codebookStride: Long = 7, dim: Int = 64): PqModel = {
    require(numCodes >= 2, s"numCodes must be >= 2, got $numCodes")
    val spark = corpus.sparkSession
    import spark.implicits._
    val probe = PqModel(Array.empty, numSubspaces, numCodes, dim)
    val cb: Array[Array[Double]] = corpus
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
      .filter(pmod(col("id"), lit(codebookStride)) === 0)
      .orderBy(col("id")).limit(numCodes)
      .as[(Long, Seq[Double])].collect().map(r => probe.normalize(r._2))
    require(cb.length == numCodes,
      s"corpus has only ${cb.length} codebook rows on stride $codebookStride, need $numCodes")
    PqModel(cb, numSubspaces, numCodes, dim)
  }

  /** ADC shortlist + exact-cosine re-rank over an already-encoded code table.
    * `encoded` is (id, codes); `vecs` is (vid, v) for the re-rank join;
    * `qPage` carries the (collected, KB-size) query vectors the ADC tables
    * are built from. One scan over CODES with a bounded per-partition
    * (adc, id) max-heap per query — only partitions × queries × shortlist
    * rows leave the scan; the re-rank join touches shortlist vectors/query.
    */
  private[graft] def pqSearch(encoded: DataFrame, vecs: DataFrame,
                              qPage: Array[(Long, Seq[Double])], k: Int,
                              shortlist: Int, model: PqModel): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val spark = encoded.sparkSession
    import spark.implicits._
    val qTabs: Array[(Long, Array[Array[Long]])] =
      qPage.sortBy(_._1).map { case (qid, raw) => (qid, model.adcTable(raw)) }
    val queryIds = qTabs.map(_._1).toSeq
    val nSub = model.numSubspaces
    val nShort = shortlist
    val partials = encoded.select(col("id"), col("codes"))
      .as[(Long, Seq[Int])].mapPartitions { it =>
      val ord = Ordering.Tuple2[Long, Long]
      val heaps = qTabs.map(_ => scala.collection.mutable.PriorityQueue.empty[(Long, Long)](ord))
      it.foreach { case (id, codes) =>
        val cs = codes.toArray
        var qi = 0
        while (qi < qTabs.length) {
          val (qid, tab) = qTabs(qi)
          if (id != qid) {
            var adc = 0L; var j = 0
            while (j < nSub) { adc += tab(j)(cs(j)); j += 1 }
            val h = heaps(qi)
            if (h.size < nShort) h.enqueue((adc, id))
            else if (ord.lt((adc, id), h.head)) { h.dequeue(); h.enqueue((adc, id)) }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (adc, id) => (qTabs(qi)._1, id, adc) }
      }
    }.toDF("query_id", "neighbor_id", "adc")
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val cand = partials.withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select("query_id", "neighbor_id")
    val scored = cand
      .join(broadcast(vecs.filter(col("vid").isin(queryIds: _*)))
        .withColumnRenamed("vid", "query_id").withColumnRenamed("v", "query_vec"),
        Seq("query_id"))
      .join(vecs, col("neighbor_id") === col("vid"))
      .withColumn("cos", cosine(col("query_vec"), col("v")))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queryIds: Seq[Long], k: Int,
             numSubspaces: Int = 8, numCodes: Int = 16,
             codebookStride: Long = 7, shortlist: Int = 64,
             dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = pqTrain(corpus, idCol, vecCol, numSubspaces, numCodes,
      codebookStride, dim)
    val base = corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val encoded = base.as[(Long, Seq[Double])].mapPartitions(
      _.map { case (id, raw) => (id, model.encode(raw).toSeq) })
      .toDF("id", "codes")
    // per-query ADC tables, built driver-side from the (small) query page
    val qPage: Array[(Long, Seq[Double])] = base
      .filter(col("id").isin(queryIds: _*))
      .as[(Long, Seq[Double])].collect()
    // a query id absent from the corpus would otherwise just return no rows
    // for that query, and a DUPLICATED corpus id would silently emit two ADC
    // tables for one query — misconfiguration must fail, not thin or fan out
    // the result (a row-count compare can false-pass when one id is
    // duplicated and another missing)
    val qIdsFound = qPage.map(_._1)
    val qMissing = queryIds.distinct.filterNot(qIdsFound.toSet)
    require(qMissing.isEmpty,
      s"query ids missing from corpus: ${qMissing.mkString(",")}")
    require(qIdsFound.distinct.length == qIdsFound.length,
      "duplicate corpus rows for query ids: " +
        qIdsFound.diff(qIdsFound.distinct).distinct.mkString(","))
    val vecs = corpus.select(col(idCol).cast("long").as("vid"), col(vecCol).as("v"))
    pqSearch(encoded, vecs, qPage, k, shortlist, model)
  }

  /** Int8 scalar-quantized ANN (symmetric per-vector quantization — the
    * SQ8 memory-cut path vector indexes ship alongside PQ): each vector
    * stores codes = round(v / scale) with scale = max|v| / 127, so every
    * dimension fits a signed byte — a 4× scan cut vs float32 (8× vs
    * double) once the codes column is what the index persists and scans.
    *
    * Ranking uses the PURE-INTEGER cosine of the code vectors — the
    * per-vector scales cancel out of cosine(s·a, t·b), so the approx
    * score is intdot(a,b) / (√intdot(a,a) · √intdot(b,b)): exact 64-bit
    * integer sums fed through correctly-rounded sqrt/division, identical
    * on every engine, which is what lets the oracle replay the WHOLE
    * pipeline (quantize → int-cosine shortlist → exact re-rank)
    * value-exactly. Same propose/dispose shape as pqTopK: per-query
    * shortlist via bounded window top-k (WindowGroupLimit keeps ≤
    * shortlist rows per query below the exchange), exact cosine re-rank
    * joins the shortlist back to the full vectors — only partitions ×
    * queries × shortlist rows ever shuffle. Zero vectors quantize to
    * all-zero codes and rank last (approx 0). Query ids absent from the
    * corpus fail loudly, like pqTopK.
    */
  /** Per-vector SQ8 encode → (id, codes, __n2): codes = round(v / scale)
    * with scale = max|v| / 127, __n2 the integer self-dot the code cosine
    * divides by. Stateless per row (no trained model), which is what makes
    * the streaming face trivial — see `streaming.VectorCodec.Sq8`.
    */
  def int8Encode(corpus: DataFrame, idCol: String, vecCol: String,
                 keepVec: Boolean = false): DataFrame = {
    // Compiled per-row encode (same pattern as the SRP bucketer and the PQ
    // encoder): the Column-HOF form it replaces — aggregate() for the
    // max-abs scale, transform() for the codes, aggregate() for __n2 —
    // executes interpreted per ELEMENT (lambda-variable allocation outside
    // whole-stage codegen), which dominated the streaming sink's per-batch
    // encode. Value-identical by construction: the scale is the same
    // left-to-right max fold, each code is
    // BigDecimal.valueOf(x/scale).setScale(0, HALF_UP) — exactly Spark's
    // round(double) — and __n2 the same exact long sum; the x51 oracle
    // (which replays the quantization in SQL) gates the equivalence.
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])]
    def enc(v: Seq[Double]): (Array[Long], Long) = {
      if (v == null) return (null, 0L)   // null embedding propagates (ADVICE r20)
      val n = v.length
      var m = 0.0
      var i = 0
      while (i < n) { val a = math.abs(v(i)); if (a > m) m = a; i += 1 }
      val scale = m / 127.0
      val codes = new Array[Long](n)
      if (scale != 0.0) {
        i = 0
        while (i < n) {
          val q = v(i) / scale
          // non-finite quotients (a NaN/Inf element) mirror Spark's
          // round(double)-then-cast semantics — round passes them through
          // and the long cast folds NaN to 0 / Inf to Long.Max — instead
          // of NumberFormatException-ing the job (round-20 ADVICE)
          codes(i) =
            if (java.lang.Double.isFinite(q))
              java.math.BigDecimal.valueOf(q)
                .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
            else q.toLong
          i += 1
        }
      }
      var n2 = 0L
      i = 0
      while (i < n) { n2 += codes(i) * codes(i); i += 1 }
      (codes, n2)
    }
    // keepVec carries the source vector through in the SAME scan — the
    // streaming index sink persists (id, vec, codes, __n2) and would
    // otherwise need a per-micro-batch self-join just to reattach it
    def seqOrNull(c: Array[Long]): Seq[Long] = if (c == null) null else c.toSeq
    if (keepVec)
      base.mapPartitions(_.map { case (id, v) =>
        val (c, n2) = enc(v); (id, v, seqOrNull(c), n2)
      }).toDF("id", "vec", "codes", "__n2")
    else
      base.mapPartitions(_.map { case (id, v) =>
        val (c, n2) = enc(v); (id, seqOrNull(c), n2)
      }).toDF("id", "codes", "__n2")
  }

  /** SQ8 search over a pre-encoded table: integer code-cosine shortlist,
    * exact re-rank against `vecs` (vid, v). Shared by the batch `int8TopK`
    * and the streaming SQ8 `VectorIndexSink.topK`, so both return identical
    * results by construction.
    */
  def int8Search(enc: DataFrame, vecs: DataFrame,
                 queryIds: Seq[Long], k: Int, shortlist: Int): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1, got k=$k shortlist=$shortlist")
    val spark = enc.sparkSession
    import spark.implicits._
    // collect the (KB-bounded: queries × dim × 8 B) query page ONCE — it
    // feeds both the loud missing/duplicate-id validation and the broadcast
    // side of the shortlist join, instead of one full filter scan for a
    // count() and a second recomputed scan inside the join
    val qPage = enc.filter(col("id").isin(queryIds: _*))
      .select(col("id"), col("codes"), col("__n2"))
      .as[(Long, Seq[Long], Long)].collect()
    val qIdsFound = qPage.map(_._1)
    val qMissing = queryIds.distinct.filterNot(qIdsFound.toSet)
    require(qMissing.isEmpty,
      s"query ids missing from corpus: ${qMissing.mkString(",")}")
    require(qIdsFound.distinct.length == qIdsFound.length,
      "duplicate corpus rows for query ids: " +
        qIdsFound.diff(qIdsFound.distinct).distinct.mkString(","))
    val q = spark.createDataset(qPage.toSeq)
      .toDF("query_id", "__qc", "__qn2")
    // fused native dot (LongDotExpression): the zip_with+aggregate HOF form
    // ran interpreted per element, once per (corpus row × query) — identical
    // exact integer sum, elementwise left-to-right
    val scored = enc.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("__dot", graft.expressions.LongDotExpression
        .longDot(col("codes"), col("__qc")))
      .withColumn("__approx",
        when(col("__n2") === 0L || col("__qn2") === 0L, lit(0.0))
          .otherwise(col("__dot").cast("double") /
            (sqrt(col("__n2").cast("double")) * sqrt(col("__qn2").cast("double")))))
    import org.apache.spark.sql.expressions.Window
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("__approx").desc, col("id").asc)
    val cand = scored.withColumn("__srk", row_number().over(ws))
      .filter(col("__srk") <= shortlist)
      .select(col("query_id"), col("id").as("neighbor_id"))
    val rer = cand
      .join(broadcast(vecs.filter(col("vid").isin(queryIds: _*)))
        .withColumnRenamed("vid", "query_id").withColumnRenamed("v", "query_vec"),
        Seq("query_id"))
      .join(vecs, col("neighbor_id") === col("vid"))
      // a zero vector's exact cosine is 0/0 = NaN, which Spark ORDERS AS
      // LARGEST — pin it to -2 (below any real cosine) so zero vectors
      // rank last, matching SQL engines where the division is NULL
      .withColumn("cos", nanvl(cosine(col("query_vec"), col("v")), lit(-2.0)))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rer.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  def int8TopK(corpus: DataFrame, idCol: String, vecCol: String,
               queryIds: Seq[Long], k: Int, shortlist: Int = 64): DataFrame =
    int8Search(int8Encode(corpus, idCol, vecCol),
      corpus.select(col(idCol).cast("long").as("vid"), col(vecCol).as("v")),
      queryIds, k, shortlist)

  /** splitmix64 — public-domain 64-bit mix (Steele et al., JDK SplittableRandom). */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    math.abs(x ^ (x >>> 31))
  }

  /** Per-class mean-embedding prototypes: (label, centroid) where centroid
    * dim d is round(avg(vec[d]), roundDp). One posexplode + one (label, dim)
    * aggregate — both shuffles are tiny (classes × dims rows out). The
    * rounding is not cosmetic: it snaps each coordinate to a decimal any
    * engine reproduces bit-for-bit, making everything derived from the
    * centroids (assignment argmax, confusion counts) engine-portable.
    */
  def classCentroids(df: DataFrame, vecCol: String, labelCol: String,
                     roundDp: Int = 4): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(transform(col(vecCol), x => x.cast("double"))))
      .toDF("label", "dim", "v")
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), roundDp).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** Nearest-class-mean classification (Rocchio / NCM): assign every vector
    * to the class whose mean embedding it is most cosine-similar to, and
    * return the confusion matrix (true_label, assigned_label, n) — the
    * standard embedding-space health check for labeled corpora (how
    * separable are the classes the curriculum is balancing on?).
    *
    * 100 TB shape: the centroid table is classes × dims (collected to the
    * driver like the IVF codebook — a few KB), re-embedded as plan
    * literals, so classification is ONE full scan with a per-row fused
    * argmax over numClasses codegen'd cosines — no join, no row
    * amplification; the only shuffle is the classes² confusion aggregate.
    * Ties break toward the smaller label. Safe only because centroids are
    * rounded: see classCentroids.
    */
  def nearestClassMean(df: DataFrame, vecCol: String, labelCol: String,
                       roundDp: Int = 4): DataFrame = {
    val cents: Array[(Int, Seq[Double])] = classCentroids(df, vecCol, labelCol, roundDp)
      .orderBy(col("label"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    require(cents.length >= 2, s"need >= 2 classes, got ${cents.length}")
    val v = transform(col(vecCol), x => x.cast("double"))
    val scored = cents.map { case (l, c) =>
      struct(cosine(v, array(c.map(lit): _*)).as("cos"),
        lit(-l).as("neg_label"), lit(l).as("label"))
    }
    df.select(col(labelCol).as("true_label"),
        greatest(scored.toIndexedSeq: _*).getField("label").as("assigned_label"))
      .groupBy(col("true_label"), col("assigned_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Spherical k-means (Lloyd's algorithm under cosine similarity), the
    * SemDeDup/cluster-then-curate workhorse: assign every vector to its
    * most-similar centroid, recompute centroids as the (rounded) mean of
    * their members, repeat. `init` seeds the codebook — class prototypes
    * (classCentroids), an ivf-style hash sample, or a previous run's
    * output. Returns the input with a `cluster` column appended under the
    * final centroids; empty clusters drop out of the codebook.
    *
    * 100 TB shape: each iteration is ONE scan — the assignment argmax is a
    * per-row fused expression over plan-literal centroids (no join), and
    * the update aggregate returns clusters × dims rows to the driver (a
    * few KB, like the IVF codebook). Rounding the updated centroids to
    * roundDp snaps them onto a decimal grid any engine reproduces, which
    * is what lets an external oracle replay the iteration exactly.
    */
  def kmeansAssign(df: DataFrame, vecCol: String,
                   init: Array[(Int, Seq[Double])], iters: Int,
                   roundDp: Int = 4): DataFrame = {
    require(init.length >= 2, s"need >= 2 initial centroids, got ${init.length}")
    val v = transform(col(vecCol), x => x.cast("double"))
    def assignCol(cents: Array[(Int, Seq[Double])]): Column =
      if (cents.length <= 16) {
        // few centroids (label-seeded prototypes): unrolled argmax stays
        // inside whole-stage codegen as one fused expression
        val scored = cents.map { case (cl, c) =>
          struct(cosine(v, array(c.map(lit): _*)).as("cos"),
            lit(-cl).as("neg_cl"), lit(cl).as("cl"))
        }
        greatest(scored.toIndexedSeq: _*).getField("cl")
      } else {
        // auto-k path: k grows with the corpus (k = N / targetClusterSize),
        // and an UNROLLED argmax is a ~k·dims-node expression whose Janino
        // compile time dominates the query at k in the hundreds and cannot
        // compile at all at cluster-scale k. The codebook rides as ONE
        // driver-array reference object inside a native codegen'd
        // expression (round 8 — replaced an interpreted HOF fold over a
        // k × dims array LITERAL: ~1 µs per 64-dim cosine and seconds of
        // analysis time at k = 1250). Bit-identical to that fold:
        // ascending-id iteration, strictly-greater replace (ties keep the
        // smallest cluster id), CosineSimExpression loop math, NaN never
        // replaces. See CentroidArgmaxExpression.
        graft.expressions.CentroidArgmaxExpression.argmax(v, cents)
      }
    val dims = init.head._2.length
    var cents = init.sortBy(_._1)
    var it = 0
    while (it < iters) {
      // per-dim avg aggregates on the UNEXPLODED frame: the assignment
      // expression runs once per row inside the partial aggregate (an
      // explode-then-group formulation re-evaluates it per emitted dim —
      // a dims× amplification), and no row blowup ever shuffles; the
      // update returns clusters × dims cells like before
      val dimAvgs = (0 until dims).map(i =>
        round(avg(element_at(v, i + 1)), roundDp).as(s"c$i"))
      cents = df
        .groupBy(assignCol(cents).as("cluster"))
        .agg(dimAvgs.head, dimAvgs.tail: _*)
        .orderBy(col("cluster"))
        .collect()
        .map(r => (r.getInt(0), (0 until dims).map(i => r.getDouble(i + 1))))
      it += 1
    }
    df.withColumn("cluster", assignCol(cents))
  }

  /** Two-level (coarse-then-fine) assignment — the scale path for auto-k
    * clustering, where the flat argmax of `kmeansAssign` is O(N·k·dims)
    * with k = N/targetClusterSize and therefore asymptotically quadratic
    * in the corpus (round-8 scale rehearsal measured the auto-k family at
    * growth exponent 1.1–1.26 vs 1.0 ideal; the gap is this term).
    *
    * The k centroids are grouped DRIVER-side into ~sqrt(k) coarse cells by
    * a deterministic mini-Lloyd over the codebook itself (the codebook is
    * already a few-KB driver array — this is scalar work on it, not a
    * Spark job). Per row, assignment is then two bounded folds: pick the
    * best coarse cell (~sqrt(k) cosines), then argmax over that cell's
    * children — O(sqrt(k)·dims + maxCell·dims) per row instead of
    * O(k·dims). Codegen size stays constant in k (the cell/children
    * codebooks are constant-folded nested array literals).
    *
    * APPROXIMATE by construction: a row whose true nearest centroid lives
    * outside its nearest coarse cell is assigned to the best centroid
    * within the cell — the standard IVF/hierarchical-k-means tradeoff
    * (raising `probes` recovers agreement by searching the top-`probes`
    * cells). Tie-breaks mirror kmeansAssign exactly (ascending id,
    * strictly-greater replace). The frozen oracle queries keep the flat
    * exact argmax; this op is the documented swap for corpora past ~10^6
    * vectors, spec-gated on agreement rate against the flat assignment.
    */
  def kmeansAssignTwoLevel(df: DataFrame, vecCol: String,
                           init: Array[(Int, Seq[Double])], iters: Int,
                           roundDp: Int = 4, probes: Int = 2): DataFrame = {
    require(init.length >= 2, s"need >= 2 centroids, got ${init.length}")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val dims = init.head._2.length
    val v = transform(col(vecCol), x => x.cast("double"))

    // deterministic scalar cosine for the driver-side codebook clustering.
    // PRIMITIVE arrays only: this runs k·c times per Lloyd round on the
    // driver, and the original Seq[Double] form paid a boxed megamorphic
    // apply per element — measured 42 s of pure plan-BUILD time at
    // k = 12.5k (c = 112, 3 rounds ≈ 4.2M cosines) vs ~2 s on double[]
    def scos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na * nb)
    }

    /** Group `cents` (ascending id) into non-empty coarse cells:
      * strided seeds, 3 fixed Lloyd rounds, all on the driver. */
    def coarsen(cents: Array[(Int, Seq[Double])])
        : Array[(Seq[Double], Array[(Int, Seq[Double])])] = {
      val k = cents.length
      val c = math.max(2, math.min(k, math.ceil(math.sqrt(k.toDouble)).toInt))
      val centArr: Array[Array[Double]] = cents.map(_._2.toArray)
      var coarse: Array[Array[Double]] =
        Array.tabulate(c)(j => centArr((j.toLong * k / c).toInt))
      var groups: Array[Array[Int]] = Array.empty
      (0 until 3).foreach { _ =>
        val assign = Array.tabulate(k) { i =>
          var best = -3.0; var bj = 0; var j = 0
          while (j < coarse.length) {
            val s = scos(centArr(i), coarse(j))
            if (s > best) { best = s; bj = j }
            j += 1
          }
          bj
        }
        groups = coarse.indices.map(j =>
          cents.indices.filter(assign(_) == j).toArray).toArray
        // drop emptied cells; recompute means (unrounded — the coarse
        // router is internal, only final assignments must be portable)
        val kept = groups.zipWithIndex.filter(_._1.nonEmpty)
        coarse = kept.map { case (g, _) =>
          val m = new Array[Double](dims)
          g.foreach { i =>
            val cv = centArr(i); var d = 0
            while (d < dims) { m(d) += cv(d); d += 1 }
          }
          var d = 0
          while (d < dims) { m(d) /= g.length; d += 1 }
          m
        }
        groups = kept.map(_._1)
      }
      coarse.map(_.toSeq).zip(groups.map(_.map(cents)))
    }

    /** Append a `cluster` column under `cents`. The whole router — coarse
      * cosines, p successive probes, fine argmax over the probed cells'
      * children — is ONE native codegen'd expression with the codebooks as
      * flattened double[] reference objects
      * (graft.expressions.TwoLevelArgmaxExpression). The Column-HOF form it
      * replaces survives in git history and in that file's scaladoc: its
      * interpreted folds cost 87.9 s on the 200k-vector 100x probe vs
      * 36.0 s for FLAT argmax — the constant factor swallowed the O(√k)
      * asymptotic — and before the typedLit codebook fix it OOMed outright.
      * Result-identical (TwoLevelAssignSpec: exhaustive probes ≡ flat
      * row-for-row; partial probes deterministic with pinned agreement).
      */
    def withAssignment(frame: DataFrame,
                       cents: Array[(Int, Seq[Double])]): DataFrame = {
      val cells = coarsen(cents)
      val p = math.min(probes, cells.length)
      frame.withColumn("cluster",
        graft.expressions.TwoLevelArgmaxExpression.argmax(v, cells, p))
    }

    var cents = init.sortBy(_._1)
    var it = 0
    while (it < iters) {
      val dimAvgs = (0 until dims).map(i =>
        round(avg(element_at(v, i + 1)), roundDp).as(s"c$i"))
      cents = withAssignment(df, cents)
        .groupBy(col("cluster"))
        .agg(dimAvgs.head, dimAvgs.tail: _*)
        .orderBy(col("cluster"))
        .collect()
        .map(r => (r.getInt(0), (0 until dims).map(i => r.getDouble(i + 1))))
      it += 1
    }
    withAssignment(df, cents)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023): cluster the embedding space,
    * then WITHIN each cluster treat every pair with cosine >= threshold as
    * semantic duplicates and keep one representative per duplicate group.
    * Clustering here seeds from the label prototypes (classCentroids) —
    * swap in a kmeansAssign refinement for unlabeled corpora; the dedup
    * stage only needs SOME engine-replayable partition of the space.
    *
    * Returns (id, cluster, keep): `keep` is true for singletons and for the
    * smallest id of each duplicate group (groups are connected components
    * of the pair graph, so dedup is transitive within a cluster).
    *
    * 100 TB shape: assignment is the one-scan plan-literal argmax of
    * nearestClassMean; the candidate generator is an equi-join on cluster id
    * — never a corpus cross join — so pair volume is sum of cluster sizes
    * squared, the knob SemDeDup itself turns via k (clusters should grow
    * with the corpus so cluster size stays bounded); components use the
    * pointer-jumping CC (O(log diameter) rounds); the keep verdict is one
    * broadcast join back. Cosines are rounded to 6dp so the threshold cut
    * is engine-portable (see classCentroids for why rounding makes the
    * whole chain replayable).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, threshold: Double,
                    roundDp: Int = 4,
                    checkpointDir: Option[String] = None): DataFrame = {
    val init = classCentroids(df, vecCol, labelCol, roundDp)
      .orderBy(col("label")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // A single-label corpus is one big cluster (all pairs compared
    // within it) — kmeansAssign's >= 2-centroid argmax is skipped.
    val assigned = (init.length match {
      case 1 => base.withColumn("cluster", lit(init.head._1))
      case _ => kmeansAssign(base, "vec", init, iters = 0, roundDp)
    }).select(col("id"), col("cluster"), col("vec"))
    semanticKeep(assigned, threshold, checkpointDir)
  }

  /** SemDeDup for UNLABELED corpora — the form a real curation run uses, and
    * the one whose k scales with the corpus (the quadratic-pair-volume knob
    * the paper itself turns: cluster count must GROW with N so cluster size
    * stays bounded). k = max(2, ceil(N / targetClusterSize)), so at 100×
    * the data there are 100× the clusters and within-cluster pair volume
    * stays Σ cluster_size² ≈ N · targetClusterSize — linear in the corpus,
    * not quadratic.
    *
    * Seeding is the deterministic strided-codebook trick from pqTopK: the k
    * smallest ids on an arithmetic stride (id % seedStride == 0), vectors
    * rounded to roundDp — no RNG, no engine-private hash, so an external
    * oracle reproduces the seed set exactly; `iters` Lloyd rounds of
    * kmeansAssign (rounded centroid updates) refine it, every step
    * engine-replayable (see kmeansAssign). The labeled `semanticDedup`
    * above remains the oracle-friendly variant for corpora that carry
    * class prototypes.
    */
  /** Deterministic auto-k seed derivation shared by `semanticDedupAuto` and
    * `prototypePrune`: k = max(2, ceil(N / targetClusterSize)) — cluster
    * count GROWS with the corpus so cluster size stays bounded — seeded by
    * the k smallest ids on an arithmetic stride (id % seedStride == 0),
    * vectors rounded to roundDp: no RNG, no engine-private hash, so an
    * external oracle reproduces the seed set exactly. `base` must carry
    * (id: long, vec: array<double>).
    */
  private[graft] def autoKSeeds(base: DataFrame, targetClusterSize: Int,
                         seedStride: Long,
                         roundDp: Int): Array[(Int, Seq[Double])] = {
    require(targetClusterSize >= 2, s"targetClusterSize must be >= 2, got $targetClusterSize")
    val spark = base.sparkSession
    import spark.implicits._
    val n = base.count()
    val k = math.max(2L, math.ceil(n.toDouble / targetClusterSize).toLong).toInt
    val seeds: Array[(Int, Seq[Double])] = base
      .filter(pmod(col("id"), lit(seedStride)) === 0)
      .orderBy(col("id")).limit(k)
      .select(col("id"), transform(col("vec"), x => round(x, roundDp)).as("vec"))
      .as[(Long, Seq[Double])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i, v) }
    require(seeds.length == k,
      s"stride $seedStride yields only ${seeds.length} of $k seeds " +
        s"(corpus ids too sparse on the stride); lower seedStride")
    seeds
  }

  /** Codebook size at which the auto-k entry points route assignment
    * through [[kmeansAssignTwoLevel]] instead of the flat argmax — the
    * round-8 probes put flat/two-level PARITY at k ≈ 12.5k (both sit on
    * the ~1 s scan floor: flat 0.97 s, two-level 1.12 s forced) with flat
    * growing linearly in k above it and two-level as √k, so by 32k flat
    * pays ~2.5 s where two-level stays ~1.3 s and the gap widens from
    * there (37× the multiply-adds at k = 10^5). Below the crossover the
    * flat scan stays: it is EXACT, and at small k the two-level constant
    * factor buys nothing. Mutable only as a test seam — the equality spec
    * lowers it to drive the routed path on spec-sized fixtures.
    */
  private[graft] var twoLevelCrossoverK: Int = 32768

  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        targetClusterSize: Int, threshold: Double,
                        seedStride: Long = 11, iters: Int = 1,
                        roundDp: Int = 4,
                        checkpointDir: Option[String] = None): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val seeds = autoKSeeds(base, targetClusterSize, seedStride, roundDp)
    // scale auto-switch: past the measured crossover the flat O(k) argmax
    // is the dominant term and the √k router is the right default (the
    // standard IVF recall tradeoff, documented at kmeansAssignTwoLevel);
    // oracle-gated corpora sit far below the crossover, so their plans —
    // and hashes — are untouched
    val assigned = (if (seeds.length >= twoLevelCrossoverK)
        kmeansAssignTwoLevel(base, "vec", seeds, iters, roundDp)
      else kmeansAssign(base, "vec", seeds, iters, roundDp))
      .select(col("id"), col("cluster"), col("vec"))
    semanticKeep(assigned, threshold, checkpointDir)
  }

  /** `semanticDedupAuto` with the two-level assignment — identical seeding,
    * Lloyd-update, and SemDeDup tail; only the per-row argmax is the
    * O(sqrt(k)) coarse-then-fine search instead of the O(k) flat scan. The
    * swap for corpora where k = N/targetClusterSize makes the flat argmax
    * the dominant term (see kmeansAssignTwoLevel; spec gates agreement
    * with the exact variant on the shared fixtures).
    */
  def semanticDedupAutoTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                                targetClusterSize: Int, threshold: Double,
                                seedStride: Long = 11, iters: Int = 1,
                                roundDp: Int = 4, probes: Int = 2,
                                checkpointDir: Option[String] = None): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val seeds = autoKSeeds(base, targetClusterSize, seedStride, roundDp)
    val assigned = kmeansAssignTwoLevel(base, "vec", seeds, iters, roundDp, probes)
      .select(col("id"), col("cluster"), col("vec"))
    semanticKeep(assigned, threshold, checkpointDir)
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural scaling
    * laws": beating power-law scaling via data pruning): cluster the
    * embedding space with the same auto-k machinery as `semanticDedupAuto`,
    * score every vector by cosine to its OWN cluster's (rounded) mean — its
    * prototypicality — and keep `keepFrac` of each cluster. The default
    * keeps the LEAST prototypical (hardest) examples, the paper's best
    * metric in the abundant-data regime; `keepEasy = true` inverts the cut
    * for the scarce-data regime. Returns (id, cluster, proto_cos, keep).
    *
    * Deterministic end-to-end (strided seeds, rounded Lloyd refinement,
    * rounded prototype cosines, id tie-breaks), so an external SQL oracle
    * replays the whole chain. 100 TB shape: assignment is the constant-
    * codegen fold scan of kmeansAssign; centroids are ONE clusters × dims
    * aggregate broadcast back (k rows); the rank cut is one per-cluster
    * window pass — its bound is data-dependent (ceil(keepFrac · cluster
    * size), computed by the count-over-cluster window in the same exchange),
    * so no WindowGroupLimit partial top-k applies: every row shuffles once
    * on cluster id, which is the floor for an exact per-cluster fraction.
    * `checkpointDir` makes the assignment snapshot (which feeds both the
    * centroid aggregate and the scoring join) reliable-checkpoint based for
    * cluster deployments, like semanticKeep's CC loop.
    */
  def prototypePrune(df: DataFrame, idCol: String, vecCol: String,
                     targetClusterSize: Int, keepFrac: Double,
                     keepEasy: Boolean = false,
                     seedStride: Long = 11, iters: Int = 1,
                     roundDp: Int = 4,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, s"keepFrac must be in (0, 1], got $keepFrac")
    val base = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    val seeds = autoKSeeds(base, targetClusterSize, seedStride, roundDp)
    val dims = seeds.head._2.length
    // same crossover routing as semanticDedupAuto (see twoLevelCrossoverK)
    val assigned = Dedup.truncateLineage(
      if (seeds.length >= twoLevelCrossoverK)
        kmeansAssignTwoLevel(base, "vec", seeds, iters, roundDp)
      else kmeansAssign(base, "vec", seeds, iters, roundDp), checkpointDir)
    val dimAvgs = (0 until dims).map(i =>
      round(avg(element_at(col("vec"), i + 1)), roundDp).as(s"c$i"))
    val cents = assigned.groupBy(col("cluster"))
      .agg(dimAvgs.head, dimAvgs.tail: _*)
      .select(col("cluster"),
        array((0 until dims).map(i => col(s"c$i")): _*).as("__centroid"))
    val scored = assigned.join(broadcast(cents), Seq("cluster"))
      .withColumn("proto_cos", round(cosine(col("vec"), col("__centroid")), 6))
    import org.apache.spark.sql.expressions.Window
    val order = if (keepEasy) Seq(col("proto_cos").desc, col("id").asc)
                else Seq(col("proto_cos").asc, col("id").asc)
    val w = Window.partitionBy(col("cluster")).orderBy(order: _*)
    val wc = Window.partitionBy(col("cluster"))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wc))
      .select(col("id"), col("cluster"), col("proto_cos"),
        (col("__rn") <= ceil(lit(keepFrac) * col("__n").cast("double"))).as("keep"))
  }

  /** Shared SemDeDup tail: within-cluster pair cut at the rounded-cosine
    * threshold → connected components → keep-smallest-id verdict.
    *
    * 100 TB shape: the assignment frame feeds both sides of the pair
    * self-join AND the final keep verdict — materialize the argmax scan
    * once, not three times. The cluster equi-join shuffles 2N fixed-width
    * vector rows (not pairs: pair fan-out happens post-join inside each
    * cluster's partition, and the cosine cut is applied before anything
    * else materializes); a hot cluster is a skewed JOIN partition, which
    * AQE can split. Cosines are rounded to 6dp so the threshold cut is
    * engine-portable. `checkpointDir` makes BOTH the assignment snapshot
    * here and the CC loop's lineage truncation reliable-checkpoint based
    * (cluster deployments) instead of executor-pinned localCheckpoint —
    * the snapshot feeds both sides of the pair join and the final verdict
    * across many jobs, so it needs the same executor-loss survivability.
    */
  private def semanticKeep(assignedIn: DataFrame, threshold: Double,
                           checkpointDir: Option[String]): DataFrame = {
    val assigned = Dedup.truncateLineage(assignedIn, checkpointDir)
    val pairs = assigned.select(col("id").as("id_a"), col("cluster"), col("vec").as("va"))
      .join(assigned.select(col("id").as("id_b"), col("cluster"), col("vec").as("vb")),
        Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select("id_a", "id_b")
    val comps = Dedup.nearDupClusters(pairs, checkpointDir = checkpointDir)
    assigned.select(col("id"), col("cluster"))
      .join(comps.select(col("doc_id").as("id"), col("cluster_id")), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        (col("cluster_id").isNull || col("cluster_id") === col("id")).as("keep"))
  }
}
