package graft.similarity

import graft.engine.Caches.CacheOps
import graft.engine.{Graph, Relational}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`, 64-dim in the fixtures).
  *
  * Two paths, as a 100 TB pipeline would have them:
  *  - [[cosineTopK]] — brute-force exact baseline: broadcast the (small)
  *    query set against the full corpus; one scan, no shuffle of the
  *    corpus, per-partition partial top-k via the `row_number <= k`
  *    window shape (WindowGroupLimit pushdown).
  *  - [[lshBucketTopK]] — the scale path: random-hyperplane LSH buckets
  *    computed map-side from deterministic plane constants; candidate
  *    search happens only inside each bucket (equi-join on bucket id),
  *    turning O(N·Q) into O(N·Q / 2^bits) at a recall cost.
  *
  * Determinism: dot products are computed over `array<double>` with a
  * sequential fold (same order as any scalar loop); planes come from a
  * fixed LCG, not an RNG seed-at-runtime.
  */
object Similarity {

  /** Sequential-fold dot product over double arrays — a native Catalyst
    * expression ([[graft.functions.DotProduct]]) that codegens to a tight
    * scalar loop; bit-identical to the HOF form
    * `aggregate(zip_with(a,b,_*_), 0d, _+_)` it replaces, without the
    * per-row intermediate array.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  /** Integer squared L2 over milli-quantized `array<bigint>` — native
    * codegen ([[graft.functions.SqDistMilli]]); integer sum, so value-
    * identical to the HOF fold it replaces in the all-pairs hot loops.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.sqDistMilli(a, b)

  /** Integer dot over `array<bigint>` ([[graft.functions.DotMilli]]). */
  def dotInt(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotMilli(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Divide by a norm product with the zero-norm guard BOTH engines
    * share: `x / 0.0` is NULL in DuckDB but an ANSI throw in Spark, so
    * one all-zero embedding in the corpus would kill the whole job
    * (extreme-fixture sweep, round 10). `nullif` makes the engine yield
    * NULL exactly where the oracle's bare division already does — same
    * doubles everywhere else, so no fixture hash moves.
    */
  def overNorms(d: Column, na: Column, nb: Column): Column =
    d / nullif(na * nb, lit(0.0))

  /** Corpus projection with the embedding pre-cast to double and its norm
    * precomputed ONCE per vector — the dominant cost of pairwise cosine is
    * otherwise recomputing `sqrt(dot(v,v))` per pair (3× the flops).
    * `norm = sqrt(dot(v,v))` is the identical expression the inline form
    * used, so downstream doubles are bit-identical.
    */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("emb_d", asDouble(col("embedding")))
      .withColumn("norm", sqrt(dot(col("emb_d"), col("emb_d"))))

  /** Exact top-k cosine neighbors for each query vector (`vec_id <
    * numQueries`), ranked on the cent-rounded similarity with vec_id
    * tie-break so ranking is stable across engines.
    */
  def cosineTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val corpus = withNorm(embeddings)
    val q = corpus
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"))
    val pairs = corpus
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
  }

  /** Filtered vector search: [[cosineTopK]]'s contract restricted to
    * corpus vectors sharing the query's `label` — the metadata-
    * constrained ANN every production vector store exposes ("top-k
    * within this tenant/category"). The filter is an EQUI-JOIN key, so
    * at scale the corpus partitions by label and each query scans one
    * partition (pre-filtering; post-filtering a global top-k would
    * return < k rows exactly when the filter is selective). Ranking
    * arithmetic and tie-breaks are identical to the unfiltered baseline.
    */
  def filteredTopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val corpus = withNorm(embeddings)
    val q = corpus
      .filter(col("vec_id") < numQueries)
      .select(
        col("vec_id").as("qid"), col("emb_d").as("qe"),
        col("norm").as("qnorm"), col("label").as("qlabel"))
    val pairs = corpus
      .join(broadcast(q), col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        col("label").cast("long").as("label"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("label"), col("cos_sim"))
  }

  /** Margin-based bitext mining (the CCMatrix/LASER parallel-corpus
    * shape): source-language docs pair with target-language docs INSIDE
    * their shared IVF cell, each side takes its cosine top-1, and a
    * pair survives only if MUTUAL (each is the other's best), reported
    * with the source-side margin over its runner-up (0 when the cell
    * holds a single candidate). Candidates come from the cell equi-join
    * — the IVF inverted-list layout, never a cross-language cross join
    * — so per-cell language populations bound every window; at corpus
    * scale `numCells` grows with the data and the mining stays
    * cell-local. Cosines rank at full double precision (bit-identical
    * across engines — same dot/sqrt association as [[cosineTopK]]);
    * only the OUTPUT rounds.
    */
  def bitextMine(
      embeddings: DataFrame,
      documents: DataFrame,
      srcLang: String = "en",
      tgtLang: String = "fr",
      numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    val celled = withNorm(embeddings)
      .join(documents.select(col("doc_id"), col("lang")), col("vec_id") === col("doc_id"))
      .withColumn("cell", cellId(col("embedding"), cs))
    val src = celled.filter(col("lang") === srcLang)
      .select(col("vec_id").as("src_id"), col("emb_d").as("sv"), col("norm").as("sn"), col("cell"))
    val tgt = celled.filter(col("lang") === tgtLang)
      .select(col("vec_id").as("tgt_id"), col("emb_d").as("tv"), col("norm").as("tn"), col("cell"))
    val pairs = src.join(tgt, Seq("cell"))
      .select(
        col("src_id"), col("tgt_id"),
        (overNorms(dot(col("sv"), col("tv")), col("sn"), col("tn"))).as("cos"))
      .cacheT()
    val fwd = Relational.topKPerGroup(pairs, 2, Seq(col("src_id")), col("cos").desc, col("tgt_id").asc)
      .groupBy(col("src_id"))
      .agg(
        max(when(col("rank") === 1, col("tgt_id"))).as("tgt_id"),
        max(when(col("rank") === 1, col("cos"))).as("cos"),
        // runner-up missing (single candidate in the cell) → cos2 = cos,
        // i.e. margin 0: no runner-up means NO margin evidence, and the
        // margin filter this models must not admit single-candidate
        // pairs as if they had the largest margin in the corpus
        coalesce(max(when(col("rank") === 2, col("cos"))), max(when(col("rank") === 1, col("cos"))))
          .as("cos2"))
    val bwd = Relational.topKPerGroup(pairs, 1, Seq(col("tgt_id")), col("cos").desc, col("src_id").asc)
      .select(col("tgt_id"), col("src_id").as("b_src"))
    fwd.join(bwd, Seq("tgt_id"))
      .filter(col("b_src") === col("src_id"))
      .select(
        col("src_id"), col("tgt_id"),
        round(col("cos"), 3).as("cos_sim"),
        round(col("cos") - col("cos2"), 6).as("margin"))
  }

  /** Deterministic pseudo-random hyperplanes (fixed LCG — no runtime
    * RNG), one array<double> per plane.
    */
  def planes(numPlanes: Int, dim: Int): Seq[Array[Double]] = {
    var state = 0x5DEECE66DL
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Seq.fill(numPlanes)(Array.fill(dim)(next()))
  }

  /** LSH bucket id: sign bits of the vector's projection onto each plane. */
  def bucketId(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex
      .map { case (p, i) =>
        when(dot(asDouble(vec), typedLit(p.toSeq)) > 0, lit(1 << i)).otherwise(lit(0))
      }
      .reduce((a, b) => a.bitwiseOR(b))

  /** Bucketed ANN: same contract as [[cosineTopK]] but candidates are
    * restricted to the query's LSH bucket (equi-join on bucket id). With
    * `numPlanes` bits the corpus side shrinks ~2^numPlanes-fold; recall
    * is traded for that (multi-probe would re-add neighbor buckets).
    */
  def lshBucketTopK(embeddings: DataFrame, numQueries: Int, k: Int, numPlanes: Int = 4): DataFrame = {
    val ps = planes(numPlanes, 64)
    val bucketed = withNorm(embeddings).withColumn("bucket", bucketId(col("emb_d"), ps))
    val q = bucketed
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"), col("bucket"))
    val pairs = bucketed
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
  }

  /** Multi-probe LSH ANN: like [[lshBucketTopK]], but each query also
    * probes the `numPlanes` buckets at Hamming distance 1 from its own
    * (flip one sign bit) — the standard recall recovery for
    * near-hyperplane vectors, at (numPlanes+1)× the candidate cost and
    * still far below brute force. Corpus vectors keep one bucket, so no
    * candidate can be seen twice and no dedup shuffle is needed.
    */
  def lshMultiProbeTopK(embeddings: DataFrame, numQueries: Int, k: Int, numPlanes: Int = 4): DataFrame = {
    val ps = planes(numPlanes, 64)
    val bucketed = withNorm(embeddings).withColumn("bucket", bucketId(col("emb_d"), ps))
    val probes = array(
      col("bucket") +: (0 until numPlanes).map(i => col("bucket").bitwiseXOR(lit(1 << i))): _*)
    val q = bucketed
      .filter(col("vec_id") < numQueries)
      .select(
        col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"),
        explode(probes).as("bucket"))
    val pairs = bucketed
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
  }

  /** Deterministic IVF coarse centroids (same fixed LCG as [[planes]],
    * offset so the two codebooks differ). At 100 TB these come from a
    * k-means training pass over a sample; the search-path shape below is
    * identical either way.
    */
  def centroids(numCells: Int, dim: Int): Seq[Array[Double]] = {
    var state = 0x2545F4914F6CDD1DL
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Seq.fill(numCells)(Array.fill(dim)(next()))
  }

  /** IVF cell id: index of the L2-nearest centroid (first match on ties).
    * Distances expand as `v·v − 2·v·c + c·c` — the same three dot
    * products any engine computes, so assignments are reproducible.
    * Native expression ([[graft.functions.NearestCentroid]]): one pass
    * per vector, no per-row literal-array construction.
    */
  def cellId(vec: Column, cs: Seq[Array[Double]]): Column =
    graft.functions.VectorFunctions.nearestCentroid(asDouble(vec), cs)

  /** IVF ANN: [[cosineTopK]]'s contract restricted to the query's coarse
    * cell (single-probe; multi-probe would union the next-nearest cells).
    * The equi-join on cell id is the IVF inverted list: the corpus
    * partitions by cell, and each query touches one partition instead of
    * the full corpus — the standard billion-scale ANN layout.
    */
  def ivfTopK(embeddings: DataFrame, numQueries: Int, k: Int, numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    val celled = withNorm(embeddings).withColumn("cell", cellId(col("embedding"), cs))
    val q = celled
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"), col("cell"))
    val pairs = celled
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
  }

  /** Deterministic PQ sub-codebooks (same fixed LCG family as [[planes]]
    * and [[centroids]], third seed): `m` subspaces × `k` centroids of
    * `subDim` dims. At 100 TB these come from per-subspace k-means over a
    * sample; the encode/search shapes below are identical either way.
    */
  def pqCodebooks(m: Int, k: Int, subDim: Int): Seq[Seq[Array[Double]]] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Seq.fill(m)(Seq.fill(k)(Array.fill(subDim)(next())))
  }

  /** Product-quantization ANN (encode + asymmetric-distance search, the
    * billion-scale memory-compression layout): each corpus vector is
    * encoded ONCE, map-side, as `m` nibble codes (nearest sub-centroid
    * per subspace — 64 floats become 8 small ints); each query builds an
    * `m`×`k` distance table and scores candidates by `m` table lookups
    * instead of a 64-dim dot product. The corpus never ships vectors to
    * the search — only codes — which is the point at scale: the encoded
    * corpus is ~32× smaller and the scan is cache-resident.
    *
    * Determinism: sub-distances expand as `s·s − 2·s·c + c·c` (the same
    * three dot products any engine computes), the ADC sum adds the `m`
    * lookups in fixed subspace order, and ranking uses the mil-rounded
    * distance with id tie-break — all mirrored textually in the oracle.
    */
  def pqTopK(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int,
      m: Int = 8,
      codebookSize: Int = 16): DataFrame = {
    val dim = 64
    val subDim = dim / m
    val books = pqCodebooks(m, codebookSize, subDim)
    val emb = embeddings.withColumn("v", asDouble(col("embedding")))
    // corpus → codes (map-side; the only thing the search ever scans)
    val codes = emb.select(
      col("vec_id"),
      array((0 until m).map(j =>
        graft.functions.VectorFunctions
          .nearestCentroid(slice(col("v"), j * subDim + 1, subDim), books(j))): _*).as("codes"))
    // queries → per-subspace distance tables (m × codebookSize doubles per query)
    val qTabCols = (0 until m).map { j =>
      val sub = slice(col("v"), j * subDim + 1, subDim)
      array(books(j).map { c =>
        val cLit = typedLit(c.toSeq)
        dot(sub, sub) - lit(2.0) * dot(sub, cLit) + lit(c.map(x => x * x).sum)
      }: _*).as(s"tab$j")
    }
    val q = emb
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid") +: qTabCols: _*)
    // ADC: m table lookups summed in fixed subspace order
    val adc = (0 until m)
      .map(j => element_at(col(s"tab$j"), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val pairs = codes
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), round(adc, 3).as("approx_dist"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("approx_dist").asc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("approx_dist"))
  }

  /** IVF+PQ — the composed billion-scale ANN layout (FAISS's IVFPQ):
    * candidates come from the query's coarse IVF cell (inverted-list
    * equi-join, corpus touched ∝ 1/cells) and are scored by PQ
    * asymmetric distance over their nibble codes (corpus stays ~32×
    * compressed; no vector ever ships to the search). Exactly
    * [[ivfTopK]]'s candidate shape with [[pqTopK]]'s scoring — at 100 TB
    * the inverted lists partition by cell and each query's work is one
    * cell's codes.
    */
  def ivfPqTopK(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int,
      numCells: Int = 8,
      m: Int = 8,
      codebookSize: Int = 16): DataFrame = {
    val dim = 64
    val subDim = dim / m
    val books = pqCodebooks(m, codebookSize, subDim)
    val cs = centroids(numCells, dim)
    val emb = embeddings.withColumn("v", asDouble(col("embedding")))
    val encoded = emb.select(
      col("vec_id"),
      cellId(col("v"), cs).as("cell"),
      array((0 until m).map(j =>
        graft.functions.VectorFunctions
          .nearestCentroid(slice(col("v"), j * subDim + 1, subDim), books(j))): _*).as("codes"))
    val qTabCols = (0 until m).map { j =>
      val sub = slice(col("v"), j * subDim + 1, subDim)
      array(books(j).map { c =>
        val cLit = typedLit(c.toSeq)
        dot(sub, sub) - lit(2.0) * dot(sub, cLit) + lit(c.map(x => x * x).sum)
      }: _*).as(s"tab$j")
    }
    val q = emb
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid") +: cellId(col("v"), cs).as("qcell") +: qTabCols: _*)
    val adc = (0 until m)
      .map(j => element_at(col(s"tab$j"), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val pairs = encoded
      .join(broadcast(q), col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), round(adc, 3).as("approx_dist"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("approx_dist").asc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("approx_dist"))
  }

  /** SQ8 codes: each dimension scalar-quantized to an 8-bit level against
    * the fixed range [-1, 1] (`code = round((x+1)/2·255)`, clamped). At
    * 100 TB the range comes from a min/max training pass per dimension;
    * the fixed range keeps the quantizer a pure literal both engines
    * evaluate identically. 4× smaller than float32, 8× smaller than the
    * double arrays — the first memory lever before PQ.
    */
  def sq8Codes(vec: Column): Column =
    transform(
      asDouble(vec),
      x =>
        least(
          lit(255L),
          greatest(lit(0L), round((x + lit(1.0)) / lit(2.0) * lit(255.0)).cast("long"))))

  /** Scalar-quantization ANN: exact squared-L2 search in SQ8 code space.
    * Distances are pure integers (`cc − 2·q·c + qq` over code vectors ≤
    * 255), so ranking is bit-exact on any engine — the one ANN family
    * member with no float in the scoring path at all. Same broadcast +
    * rank-limit shape as [[cosineTopK]].
    */
  def sq8TopK(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val coded = embeddings
      .withColumn("cd", sq8Codes(col("embedding")).cast("array<double>"))
      .withColumn("cc", dot(col("cd"), col("cd")))
    val q = coded
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("cd").as("qd"), col("cc").as("qq"))
    val pairs = coded
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        (col("cc") - lit(2.0) * dot(col("qd"), col("cd")) + col("qq")).cast("long").as("sq_dist"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("sq_dist").asc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("sq_dist"))
  }

  /** Per-vector distance array to every coarse centroid, in the exact
    * association the oracle (and [[graft.functions.NearestCentroid]])
    * uses: `(vv − 2·v·c) + c·c` per cell. Only evaluated on the tiny
    * query side (inlines cells×dims literals — the compositional cost
    * the native kernel avoids corpus-side).
    */
  private def centroidDists(v: Column, vv: Column, cs: Seq[Array[Double]]): Column =
    array(cs.map { c =>
      vv - lit(2.0) * dot(v, typedLit(c.toSeq)) + lit(c.map(x => x * x).sum)
    }: _*)

  /** IVF ANN with nprobe = 2: each query searches its nearest AND
    * second-nearest coarse cell — the standard recall lever (FAISS
    * `nprobe`) at 2× the candidate cost. Corpus vectors still index into
    * exactly one inverted list (native kernel); only the ~numQueries
    * query rows expand to two probe rows (same explode shape as
    * multi-probe LSH). The second cell falls out compositionally:
    * re-argmin after masking the ARGMIN POSITION to +∞ (a positional
    * mask, not a value mask — masking by value would blank EVERY cell
    * tied at the minimum, so an exact tie would skip the true
    * second-nearest cell and probe the third instead).
    */
  def ivfProbe2TopK(embeddings: DataFrame, numQueries: Int, k: Int, numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    val inf = expr("CAST('Infinity' AS DOUBLE)")
    val celled = withNorm(embeddings).withColumn("cell", cellId(col("embedding"), cs))
    val q = celled
      .filter(col("vec_id") < numQueries)
      .withColumn("vv", dot(col("emb_d"), col("emb_d")))
      .withColumn("dists", centroidDists(col("emb_d"), col("vv"), cs))
      .withColumn("cell1", (array_position(col("dists"), array_min(col("dists"))) - 1).cast("int"))
      .withColumn(
        "masked",
        transform(col("dists"), (x, i) => when(i === col("cell1"), inf).otherwise(x)))
      .withColumn("cell2", (array_position(col("masked"), array_min(col("masked"))) - 1).cast("int"))
      .select(
        col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"),
        explode(array(col("cell1"), col("cell2"))).as("cell"))
    val pairs = celled
      .join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("cos_sim"))
  }

  /** Squared-distance (simplified) silhouette of the IVF coarse
    * quantizer: per vector, a = squared distance to its assigned
    * (nearest) centroid, b = squared distance to the next-nearest via
    * the [[ivfProbe2TopK]] positional-mask re-argmin, s = (b − a)/b — the
    * codebook-quality readout that tells you when the quantizer needs
    * retraining. Per-row s is one fixed IEEE tree over the shared
    * centroid literals, quantized to integer micros so the per-cell
    * mean accumulates as exact order-free BIGINTs and divides once.
    * One scan, one map-combined aggregate, |cells| output rows; the
    * dist-array expansion is compositional (cells×dims literals) — a
    * native min2-kernel is the follow-up if the codebook grows.
    */
  def silhouette(embeddings: DataFrame, numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    val inf = expr("CAST('Infinity' AS DOUBLE)")
    embeddings
      .withColumn("v", asDouble(col("embedding")))
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("dists", centroidDists(col("v"), col("vv"), cs))
      .withColumn("cell", (array_position(col("dists"), array_min(col("dists"))) - 1))
      .withColumn("a2", array_min(col("dists")))
      // positional mask (see [[ivfProbe2TopK]]): on an all-tied dists
      // row a value mask would blank every entry, making b2 = +∞ and
      // sil NaN (which would corrupt sil_sum); masking only the
      // assigned cell's position keeps b2 = a2 and sil = 0 there
      .withColumn(
        "masked",
        transform(col("dists"), (x, i) => when(i === col("cell"), inf).otherwise(x)))
      .withColumn("b2", array_min(col("masked")))
      .withColumn(
        "sil",
        when(col("b2") === 0.0, lit(0.0)).otherwise((col("b2") - col("a2")) / col("b2")))
      .withColumn("sil_micro", expr("CAST(round(sil * 1000000) AS BIGINT)"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sil_micro")).as("sil_sum"))
      .withColumn(
        "mean_sil",
        expr("(CAST(sil_sum AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / 1000000.0"))
      .select(col("cell"), col("n_vecs"), col("sil_sum"), col("mean_sil"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — near the query in embedding space but semantically wrong,
    * the negatives that actually move a contrastive loss. Identical
    * broadcast + rank-limit shape to [[cosineTopK]] with the label
    * inequality folded into the join condition, so same-label pairs
    * never materialize.
    */
  def hardNegatives(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val corpus = withNorm(embeddings)
    val q = corpus
      .filter(col("vec_id") < numQueries)
      .select(
        col("vec_id").as("qid"), col("label").as("qlabel"),
        col("emb_d").as("qe"), col("norm").as("qnorm"))
    val pairs = corpus
      .join(broadcast(q), col("label") =!= col("qlabel"))
      .select(
        col("qid"),
        col("vec_id").as("nid"),
        col("label").as("neg_label"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(pairs, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("rank"),
        col("nid"), col("neg_label"), col("cos_sim"))
  }

  /** SemDeDup-style semantic dedup summary: within each `label` block, a
    * vector is DROPPED when any lower-id vector in its block is a cosine
    * near-duplicate (≥ `minCos`) — the deterministic ONE-PASS lower-id
    * rule (block minima are always kept; mutually-far vectors both
    * survive). Deliberately NOT sequential greedy: in a chain a∼b, b∼c
    * (a<b<c, a≁c) sequential greedy would re-admit c once b is dropped,
    * but that rule is inherently iterative (each verdict depends on all
    * earlier verdicts); the one-pass rule decides every vector from the
    * pair list alone — the scalable choice, at the cost of over-dropping
    * chain tails. The transitive-cluster variant (keep one per connected
    * component) is [[graft.text.Dedup.nearDupClusters]]. Reuses
    * [[cosineNearDups]]'s blocked pair join; the drop list is
    * near-dup-pair-sized (≪ corpus) and aggregates to one row per label.
    */
  def semanticDedupSummary(embeddings: DataFrame, minCos: Double): DataFrame = {
    val dropped = cosineNearDups(embeddings, minCos)
      .select(col("label"), col("vec_b").as("vec_id"))
      .distinct()
      .withColumn("is_dropped", lit(1L))
    embeddings
      .select(col("label"), col("vec_id"))
      .join(dropped, Seq("label", "vec_id"), "left")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce(col("is_dropped"), lit(0L)))).as("n_kept"))
  }

  /** k-NN label vote — nearest-neighbor classification over the
    * embedding corpus: each query's exact top-k ([[cosineTopK]]) joins
    * the broadcast label dimension, votes count per (query, label), and
    * the (votes DESC, label ASC) head is the deterministic prediction.
    * Everything after the top-k runs over numQueries·k rows.
    */
  def knnClassify(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    val votes = cosineTopK(embeddings, numQueries, k)
      .join(
        broadcast(labels.select(col("vec_id").as("nid"), col("label").as("n_label"))),
        Seq("nid"))
      .groupBy(col("qid"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    Relational.topKPerGroup(votes, 1, Seq(col("qid")), col("votes").desc, col("n_label").asc)
      .join(
        broadcast(labels.select(col("vec_id").as("qid"), col("label").as("true_label"))),
        Seq("qid"))
      .select(
        col("qid"),
        col("true_label").cast("long").as("true_label"),
        col("n_label").cast("long").as("pred_label"),
        col("votes"),
        (col("true_label") === col("n_label")).as("correct"))
  }

  /** Recall@k evaluation of the LSH index against the brute-force ground
    * truth — the measurement loop every ANN deployment runs: per query,
    * |approx ∩ exact| / k. Both rankings already exist as operators; the
    * evaluation is a (qid, nid) equi-join over numQueries·k rows. Exact
    * integer ratio (one IEEE division).
    */
  def annRecall(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
    recallAgainst(
      cosineTopK(embeddings, numQueries, k).select(col("qid"), col("nid")),
      lshBucketTopK(embeddings, numQueries, k).select(col("qid"), col("nid")))

  /** Shared recall@k scorer: per qid, |approx ∩ truth| / |truth| — the
    * ONE spelling every recall evaluation in this file reads (n_true
    * derives from the actual truth rows, so a query with fewer than k
    * true neighbors is scored against what exists, not against k).
    * Both inputs are (qid, nid) at numQueries·k rows.
    */
  private def recallAgainst(truth: DataFrame, approx: DataFrame): DataFrame = {
    val hits = truth.join(approx, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall", expr("CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)"))
  }

  /** Sign-bit binary quantization + Hamming recall@k: each 64-dim vector
    * collapses to TWO packed 32-bit words (bit i = `embedding[i] > 0`),
    * a 32× memory reduction — the most aggressive quantization a vector
    * store deploys. Candidate ranking is `bit_count(xor)` over packed
    * longs — pure codegen'd integer ops, no float math in the scan — and
    * the recall join scores the binary ranking against the exact-cosine
    * ground truth ([[cosineTopK]]). The pack step runs once per vector
    * (interpreted HOF off the hot path); the per-pair work is the two-
    * word Hamming popcount, which is what makes exhaustive binary scans
    * viable where float scans are not. Integer distances ⇒ cross-engine
    * deterministic ranking (ties broken by neighbor id).
    */
  /** Sign-bit packed words (vec_id, b0, b1): bit i of b0/b1 is
    * `embedding[i] > 0` for dims 1–32 / 33–64 — 32-bit words so the
    * BIGINT arithmetic is exact on any engine.
    */
  private def packedWords(embeddings: DataFrame): DataFrame = {
    def packWord(offset: Int): Column = expr(
      s"""aggregate(
            transform(slice(embedding, $offset, 32),
                      (v, i) -> IF(v > CAST(0 AS FLOAT),
                                   shiftleft(CAST(1 AS BIGINT), i),
                                   CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)""")
    embeddings.select(col("vec_id"), packWord(1).as("b0"), packWord(33).as("b1"))
  }

  /** Per-query binary Hamming ranking of the packed corpus: top
    * `shortlist` neighbors by `bit_count(xor)` popcount (codegen'd
    * integer ops only in the scan), ties broken by neighbor id.
    */
  private def hammingTopK(
      embeddings: DataFrame,
      numQueries: Int,
      shortlist: Int): DataFrame = {
    val packed = packedWords(embeddings)
    val q = packed
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("b0").as("q0"), col("b1").as("q1"))
    val scored = packed
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id").as("nid"),
        expr("CAST(bit_count(b0 ^ q0) + bit_count(b1 ^ q1) AS BIGINT)").as("hamming"))
    Relational.topKPerGroup(scored, shortlist, Seq(col("qid")), col("hamming").asc, col("nid").asc)
      .select(col("qid"), col("nid"))
  }

  def binaryQuantRecall(embeddings: DataFrame, numQueries: Int, k: Int): DataFrame =
    recallAgainst(
      cosineTopK(embeddings, numQueries, k).select(col("qid"), col("nid")),
      hammingTopK(embeddings, numQueries, k))

  /** Two-stage retrieval: binary Hamming SHORTLIST (cheap popcount scan,
    * `shortlist` candidates/query) then exact-cosine RERANK of the
    * shortlist to top-`k` — the production layout for quantized vector
    * stores: the 32×-compressed binary index prunes the corpus, full-
    * precision vectors are fetched only for the shortlist (k·Q rows),
    * and rerank recovers most of the recall direct binary ranking loses.
    * Reported as recall@k vs the exact ground truth, comparable row-for-
    * row with [[binaryQuantRecall]] to show the rerank lift.
    */
  def binaryRerankRecall(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int,
      shortlist: Int): DataFrame = {
    val corpus = withNorm(embeddings)
    val qv = corpus
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"))
    val rescored = hammingTopK(embeddings, numQueries, shortlist)
      .join(corpus.select(col("vec_id").as("nid"), col("emb_d"), col("norm")), "nid")
      .join(broadcast(qv), "qid")
      .select(
        col("qid"), col("nid"),
        round(overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm")), 3).as("cos_sim"))
    val reranked = Relational
      .topKPerGroup(rescored, k, Seq(col("qid")), col("cos_sim").desc, col("nid").asc)
      .select(col("qid"), col("nid"))
    recallAgainst(
      cosineTopK(embeddings, numQueries, k).select(col("qid"), col("nid")),
      reranked)
  }

  /** Matryoshka (prefix-truncation) recall: brute-force top-`k` under
    * the FIRST 8/16/32 embedding dimensions vs the full-64-dim ground
    * truth — the evaluation that decides how many dimensions a
    * deployment actually stores and scans (MRL-style embeddings are
    * trained so prefixes degrade gracefully; this measures exactly how
    * gracefully, per truncation). One broadcast-query corpus pass scores
    * every prefix at once (integer milli squared distances via the
    * native kernel); the per-(query, dim) top-k are rank-limit windows
    * over the cached score table; recall is an exact hit ratio. At
    * corpus scale this runs over an ANN candidate pool instead of the
    * full corpus — the scoring/eval shape is identical.
    */
  def matryoshkaRecall(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 5,
      dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val fullDim = 64
    val m = embeddings.select(
      col("vec_id"),
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), v -> CAST(round(v * 1000) AS BIGINT))")
        .as("m"))
    val q = m.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("m").as("qm"))
    val allDims = (dims :+ fullDim).distinct // caller may ask for the full dim too
    val scored = m
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(
        Seq(col("qid"), col("vec_id")) ++ allDims.map(d =>
          sqDist(expr(s"slice(m, 1, $d)"), expr(s"slice(qm, 1, $d)")).as(s"d$d")): _*)
      .cacheT() // one scoring pass feeds |dims|+1 differently-ordered windows
    def topk(dcol: String) = Relational
      .topKPerGroup(scored, k, Seq(col("qid")), col(dcol).asc, col("vec_id").asc)
      .select(col("qid"), col("vec_id"))
    val truth = topk(s"d$fullDim")
    // denominator = ACTUAL truth rows, not k·numQueries: with a corpus
    // smaller than numQueries+k (or any query with fewer than k
    // neighbors) the hardcoded product would understate recall — a
    // perfect prefix ranking must score 1.0, the same contract as
    // recallAgainst
    val truthN = truth.agg(count(lit(1)).as("n_true"))
    dims.map { d =>
      topk(s"d$d")
        .join(truth, Seq("qid", "vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truthN)
        .select(
          lit(d.toLong).as("dims_kept"),
          lit(numQueries.toLong).as("n_queries"),
          col("n_hits"),
          expr("CAST(n_hits AS DOUBLE) / nullif(CAST(n_true AS DOUBLE), 0.0E0)").as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Embedding-cosine near-duplicate pairs, IVF-style blocked by `label`
    * (the fixture's cluster id): pairs within a block with similarity ≥
    * `minCos`. At scale the block key comes from a coarse quantizer; the
    * join/filter shape is identical.
    */
  def cosineNearDups(embeddings: DataFrame, minCos: Double): DataFrame = {
    val corpus = withNorm(embeddings)
    val a = corpus.select(col("label"), col("vec_id").as("vec_a"), col("emb_d").as("emb_a"), col("norm").as("norm_a"))
    val b = corpus.select(col("label"), col("vec_id").as("vec_b"), col("emb_d").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(overNorms(dot(col("emb_a"), col("emb_b")), col("norm_a"), col("norm_b")), 3))
      .filter(col("cos_sim") >= minCos)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Mutual nearest-neighbor pairs, blocked by `label` like
    * [[cosineNearDups]]: each vector's top-1 cosine neighbor inside its
    * block (ranked on the milli-rounded similarity, vec_id tie-break),
    * kept only when the choice is reciprocal — a's best is b AND b's
    * best is a. The MNN pairing used to mine aligned / duplicate
    * training pairs; the mutual check is a self-join of the per-vector
    * top-1 table (two |V|-row relations, never the pair matrix), and at
    * scale the block key comes from a coarse quantizer so the per-block
    * pair fan-out stays bounded.
    */
  def mutualTopNeighbors(embeddings: DataFrame): DataFrame = {
    val corpus = withNorm(embeddings)
    val a = corpus.select(
      col("label"), col("vec_id").as("va"), col("emb_d").as("ea"), col("norm").as("na"))
    val b = corpus.select(
      col("label"), col("vec_id").as("vb"), col("emb_d").as("eb"), col("norm").as("nb"))
    val scored = a.join(b, Seq("label"))
      .filter(col("va") =!= col("vb"))
      .withColumn("cos_sim", round(overNorms(dot(col("ea"), col("eb")), col("na"), col("nb")), 3))
    val top1 = Relational.topKPerGroup(scored, 1, Seq(col("va")), col("cos_sim").desc, col("vb").asc)
      .select(col("label"), col("va"), col("vb"), col("cos_sim"))
    top1.as("x")
      .join(
        top1.select(col("va").as("yb"), col("vb").as("ya")),
        col("va") === col("ya") && col("vb") === col("yb"))
      .filter(col("va") < col("vb"))
      .select(col("label"), col("va"), col("vb"), col("cos_sim"))
  }

  /** Density-grid clustering (a DBSCAN-shaped screen on the cheap): the
    * first two embedding dimensions quantize to a fixed integer grid
    * (`binMilli` thousandths per cell, shifted positive so truncating
    * `div` IS floor division on any engine), cells with ≥ `minPts`
    * points are dense, and 8-neighbor-adjacent dense cells merge into
    * components. The corpus never shuffles — one map-combined aggregate
    * compresses it to the ≤(20000/binMilli)² cell table, a CONSTANT
    * bound independent of corpus size, so the component step runs
    * driver-side union-find ([[Graph.componentMinima]], also the
    * [[graft.text.Dedup]] small-graph fast path; the distributed min-label
    * loop is the fallback if the grid were ever refined past driver memory).
    * Assumes |component| ≤ 10 per dimension (the fixture embeddings are
    * unit-ball). Per component: min-cell id, cell/point counts, and the
    * bounding box.
    */
  def gridDensityClusters(
      embeddings: DataFrame,
      binMilli: Int = 50,
      minPts: Int = 5): DataFrame = {
    val off = 10000 / binMilli
    def grid(i: Int) =
      expr(s"(CAST(round(CAST(embedding[$i] AS DOUBLE) * 1000) AS BIGINT) + 10000) " +
        s"div $binMilli - $off")
    val cells = embeddings
      .select(grid(0).as("gx"), grid(1).as("gy"))
      .groupBy(col("gx"), col("gy"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minPts)
    val rows = cells.collect()
      .map(r => (r.getAs[Long]("gx"), r.getAs[Long]("gy"), r.getAs[Long]("n")))
    def key(c: (Long, Long)): Long = (c._1 + 2L * off) * 100000L + (c._2 + 2L * off)
    val present = rows.map(r => (r._1, r._2)).toSet
    val root = Graph.componentMinima(for {
      (gx, gy, _) <- rows.toSeq
      dx <- -1L to 1L; dy <- -1L to 1L
      if (dx, dy) != ((0L, 0L)) && present((gx + dx, gy + dy))
    } yield (key((gx, gy)), key((gx + dx, gy + dy))))
    val spark = embeddings.sparkSession
    import spark.implicits._
    // a dense cell with no dense neighbour is its own component
    val labels = rows
      .map { case (gx, gy, _) => val k = key((gx, gy)); (gx, gy, root.getOrElse(k, k)) }
      .toSeq.toDF("gx", "gy", "ck")
    cells
      .join(broadcast(labels), Seq("gx", "gy"))
      .groupBy(col("ck"))
      .agg(
        count(lit(1)).as("n_cells"), sum(col("n")).as("n_points"),
        min(col("gx")).as("min_gx"), max(col("gx")).as("max_gx"),
        min(col("gy")).as("min_gy"), max(col("gy")).as("max_gy"))
      .select(
        expr(s"ck div 100000 - ${2 * off}").as("comp_gx"),
        expr(s"ck % 100000 - ${2 * off}").as("comp_gy"),
        col("n_cells"), col("n_points"),
        col("min_gx"), col("max_gx"), col("min_gy"), col("max_gy"))
  }

  /** Per-label embedding-centroid drift between two deterministic corpus
    * halves (vec_id parity — at ingest this is "yesterday's shard vs
    * today's"): each half's centroid on the integer-milli grid (the
    * [[embedOutliers]] rounding convention, so accumulation is exact and
    * order-free), squared distance between the halves as a pure BIGINT
    * sum over dims, and the drift in embedding units via one
    * correctly-rounded sqrt. The monitoring readout that catches an
    * upstream encoder change before it poisons the index; |labels| rows
    * out, one shuffle at |labels|·dims granularity.
    */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    val cents = embeddings
      .select(
        (col("vec_id") % 2 === 0).as("half_a"),
        col("label"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(
        col("half_a"), col("label"),
        (col("dim0") + 1).cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("milli"))
      .groupBy(col("label"), col("dim"), col("half_a"))
      .agg(count(lit(1)).as("n"), sum(col("milli")).as("ms"))
      .withColumn("c", expr("CAST(round(CAST(ms AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
    val a = cents.filter(col("half_a"))
      .select(col("label"), col("dim"), col("c").as("ca"), col("n").as("na"))
    val b = cents.filter(!col("half_a"))
      .select(col("label"), col("dim"), col("c").as("cb"), col("n").as("nb"))
    // FULL OUTER, not inner: a label present in only one half (a small
    // label newly ingested into one shard, or one that vanished) is
    // exactly the appeared/vanished case a drift monitor exists to
    // catch — an inner join would silently drop it from the report.
    // Such a label surfaces with the missing half's count at 0 and
    // NULL dist2/drift (there is no second centroid to measure to).
    a.join(b, Seq("label", "dim"), "full_outer")
      .groupBy(col("label"))
      .agg(
        coalesce(max(col("na")), lit(0L)).as("n_a"),
        coalesce(max(col("nb")), lit(0L)).as("n_b"),
        sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("dist2"))
      .withColumn("drift", expr("sqrt(CAST(dist2 AS DOUBLE)) / 1000.0"))
      .select(col("label"), col("n_a"), col("n_b"), col("dist2"), col("drift"))
  }

  /** Per-label centroids with EXACT accumulation: each component
    * quantizes to integer millis per row, the per-(label, dim) sums are
    * plain BIGINT aggregation (order-independent — a raw double mean
    * would be partition-order nondeterministic), and the mean divides
    * once at the end. |labels|·dims output rows; the explode is linear
    * in corpus·dims with full column pruning.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(
        col("label"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(
        col("label"),
        (col("dim0") + 1).cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("milli"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("milli")).as("milli_sum"))
      .withColumn(
        "centroid_milli",
        expr("CAST(milli_sum AS DOUBLE) / CAST(n_vecs AS DOUBLE)"))

  /** Farthest-from-centroid outliers per label: the centroid quantizes
    * to integer millis (same convention as [[labelCentroids]] — a raw
    * double centroid would make the distance accumulation order-
    * dependent), per-vector squared distance is then a pure BIGINT sum
    * over dims, and a per-label window keeps the top-k. The mislabeled-
    * embedding screen of an ingest pipeline.
    */
  def embedOutliers(embeddings: DataFrame, k: Int = 3): DataFrame = {
    val exploded = embeddings
      .select(
        col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(
        col("vec_id"), col("label"),
        (col("dim0") + 1).cast("long").as("dim"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("milli"))
    val centroids = exploded
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("milli")).as("ms"))
      .select(
        col("label"), col("dim"),
        expr("CAST(round(CAST(ms AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)").as("c"))
    val dist = exploded
      .join(broadcast(centroids), Seq("label", "dim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum((col("milli") - col("c")) * (col("milli") - col("c"))).as("dist2"))
    Relational.topKPerGroup(dist, k, Seq(col("label")), col("dist2").desc, col("vec_id").asc)
      .select(col("label"), col("rank"), col("vec_id"), col("dist2"))
  }

  /** Per-label embedding-norm profile — the drift/health check an
    * embedding pipeline runs on ingest: each vector's L2 norm is a
    * per-row sqrt over the same dot-product kernel the ANN ops use
    * (bit-identical doubles), and the report is one exact
    * interpolated-percentile aggregate per label.
    */
  def normStats(embeddings: DataFrame): DataFrame =
    withNorm(embeddings)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("norm")).as("min_norm"),
        expr("percentile(norm, 0.5)").as("med_norm"),
        max(col("norm")).as("max_norm"))

  /** Mean reciprocal rank of the label-matched neighbor in the exact
    * top-k — the retrieval-quality readout next to [[cosineTopK]]. The
    * reciprocal ranks accumulate as integers (`60 div rank` is exact for
    * every rank ≤ 5 — LCM trick), so the cross-row sum is
    * order-independent and the single division happens at the end.
    * Output is ONE row; the only corpus-sized work is the top-k itself.
    */
  def mrrEval(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    require(60 % k == 0 && k <= 5, "LCM trick covers ranks 1..5")
    val labels = embeddings.select(col("vec_id"), col("label"))
    val firstHit = cosineTopK(embeddings, numQueries, k)
      .join(
        labels.withColumnRenamed("vec_id", "qid").withColumnRenamed("label", "q_label"),
        "qid")
      .join(
        labels.withColumnRenamed("vec_id", "nid").withColumnRenamed("label", "n_label"),
        "nid")
      .filter(col("q_label") === col("n_label"))
      .groupBy(col("qid"))
      .agg(min(col("rank")).as("first_rank"))
    firstHit
      .agg(
        count(lit(1)).as("n_matched"),
        sum(expr("60 div first_rank")).as("rr60_sum"))
      .select(
        lit(numQueries.toLong).as("n_queries"),
        col("n_matched"),
        col("rr60_sum"),
        expr(s"CAST(rr60_sum AS DOUBLE) / (60.0 * $numQueries)").as("mrr"))
  }

  /** One k-means ASSIGNMENT step with deterministic seeds (the first k
    * vectors by vec_id — kmeans++-style "first points" seeding needs no
    * RNG): every vector joins the broadcast k-row seed table, takes the
    * max-cosine seed (seed-id tie-break), and the report aggregates
    * per (cluster, label) — counts plus an integer milli-cosine sum, so
    * the only cross-row accumulations are exact. The per-vector argmax
    * window partitions by vec_id (k rows each — no skew at any scale).
    * The UPDATE step (recompute centroids) is deliberately absent: a
    * cross-row mean of doubles is partition-order nondeterministic; an
    * engine implementation would round centroids before the next round.
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 4): DataFrame = {
    val corpus = withNorm(embeddings)
    val seeds = corpus
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("seed_id"), col("emb_d").as("se"), col("norm").as("snorm"))
    val scored = corpus
      .crossJoin(broadcast(seeds))
      .select(
        col("vec_id"), col("label"), col("seed_id"),
        round(overNorms(dot(col("se"), col("emb_d")), col("snorm"), col("norm")), 3).as("cos_sim"))
    Relational.topKPerGroup(scored, 1, Seq(col("vec_id")), col("cos_sim").desc, col("seed_id").asc)
      .groupBy(col("seed_id").as("cluster"), col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(expr("CAST(round(cos_sim * 1000) AS BIGINT)")).as("sim_milli_sum"))
  }

  /** Reciprocal-rank fusion of two retrieval rankings — exact cosine
    * top-k ([[cosineTopK]]) and IVF top-k ([[ivfTopK]]):
    * score(d) = Σ_lists 1 / (c + rank_d), the standard hybrid-search
    * combiner. Each summand is a single IEEE division and the per-doc
    * sum has at most two terms (2-term addition is order-exact), so the
    * fused score is bit-identical across engines. The fusion itself is
    * a full outer join of two k-rows-per-query tables — negligible next
    * to the retrieval stages that feed it, at any corpus size.
    */
  def rrfFusion(
      embeddings: DataFrame,
      numQueries: Int = 10,
      k: Int = 5,
      c: Int = 60,
      topN: Int = 5): DataFrame = {
    val exact = cosineTopK(embeddings, numQueries, k)
      .select(col("qid"), col("nid"), col("rank").as("r_exact"))
    val ivf = ivfTopK(embeddings, numQueries, k)
      .select(col("qid"), col("nid"), col("rank").as("r_ivf"))
    val fused = exact
      .join(ivf, Seq("qid", "nid"), "full_outer")
      .withColumn(
        "rrf",
        expr(s"""coalesce(1.0 / ($c + CAST(r_exact AS DOUBLE)), 0.0) +
                 coalesce(1.0 / ($c + CAST(r_ivf AS DOUBLE)), 0.0)"""))
    Relational.topKPerGroup(fused, topN, Seq(col("qid")), col("rrf").desc, col("nid").asc)
      .select(col("qid"), col("rank"), col("nid"), col("rrf"))
  }

  /** Uncentered second-moment (Gram/covariance-style) matrix of the
    * milli-quantized embeddings, as (i, j, s_ij = Σ m_i·m_j) cells for
    * an upper-left `dims`×`dims` block. The per-vector dim×dim pair
    * expansion happens map-side off one self-join on vec_id and folds
    * straight into a dims²-cell partial aggregate — the classic
    * distributed covariance shape whose shuffle is K² cells regardless
    * of corpus size. BIGINT-exact throughout.
    */
  def covMatrix(embeddings: DataFrame, dims: Int = 8): DataFrame =
    gramCells(embeddings, dims)

  /** (i, j, s_ij = Σ_v m_i·m_j) cells of the milli-quantized Gram matrix
    * for the leading `dims` dimensions, via ONE typed-aggregate pass
    * ([[graft.functions.GramAggregator]] — n·dims² multiply-adds in a
    * partial aggregate, no row explosion, no self-join; bit-identical
    * to the join spelling because integer addition is order-free).
    */
  def gramCells(embeddings: DataFrame, dims: Int): DataFrame = {
    val agg = udaf(new graft.functions.GramAggregator(dims))
    embeddings
      .select(
        expr(
          s"transform(slice(CAST(embedding AS ARRAY<DOUBLE>), 1, $dims), v -> CAST(round(v * 1000) AS BIGINT))")
          .as("m"))
      // nv gates the degenerate corpus: with ZERO non-null vectors the
      // convention (shared with the oracle twins, r10 degenerate probe)
      // is zero CELLS — not a dims² grid of zero mass, which downstream
      // eigen-iteration would divide into 0/0
      .agg(agg(col("m")).as("g"), count(col("m")).as("nv"))
      .filter(col("nv") > 0)
      .select(posexplode(col("g")).as(Seq("idx", "s")))
      .select(
        expr(s"CAST(idx div $dims + 1 AS BIGINT)").as("i"),
        expr(s"CAST(idx % $dims + 1 AS BIGINT)").as("j"),
        col("s"))
  }

  /** Two deterministic power-iteration steps toward the dominant
    * eigenvector of the full 64×64 second-moment matrix, with the
    * iterate re-quantized to milli scale (round(1000·w/max|w|)) after
    * each multiply so every matrix-vector product stays BIGINT-exact —
    * floating point appears only inside the per-step rounding division,
    * on oracle-identical text. Output is the 64-dim iterate after step
    * 2; the matrix build is the [[covMatrix]] shape, each multiply a
    * broadcast join against a 64-row vector.
    */
  /** Spark/DuckDB `round()` on doubles is HALF_UP (away from zero) —
    * NOT JVM `math.round` (floor(x+0.5), which differs on negative
    * halves). Driver-side replication must match the engines bit-for-bit.
    */
  private def roundHalfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Collect the dims×dims Gram grid to the driver — a BOUNDED constant
    * (dims² cells, dims=64 → 4096 longs), independent of corpus size.
    * The corpus-scale work is the distributed Gram AGGREGATION; the
    * O(dims²) eigen-iteration on top of it belongs on the driver — as a
    * chain of broadcast-join jobs it costs ~20 scheduler round-trips to
    * move 64 numbers around.
    */
  private def gramFromRows(rows: Array[org.apache.spark.sql.Row], dims: Int): Array[Array[Long]] = {
    val g = Array.ofDim[Long](dims, dims)
    rows.foreach { r =>
      g(r.getAs[Long]("i").toInt - 1)(r.getAs[Long]("j").toInt - 1) = r.getAs[Long]("s")
    }
    g
  }

  /** One quantized power step, driver-side: w = M·v exactly in BIGINT,
    * then re-quantize u_i = round(1000·w_i/max|w|) with the engines'
    * HALF_UP rule — value-identical to the broadcast-join spelling.
    */
  private def stepLocal(m: Array[Array[Long]], v: Array[Long]): Array[Long] = {
    val dims = v.length
    val w = Array.tabulate(dims)(i => (0 until dims).map(j => m(i)(j) * v(j)).sum)
    val mx = w.map(math.abs).max
    // a mass-less iterate (M·v ≡ 0) has no direction to normalize —
    // stay at zero instead of feeding 0/0 → NaN into the HALF_UP
    // BigDecimal round (which throws on NaN, r10 degenerate probe)
    if (mx == 0L) w
    else w.map(x => roundHalfUp(1000.0 * x.toDouble / mx.toDouble))
  }

  def powerIteration(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    val cells = gramCells(embeddings, 64).collect()
    // zero non-null vectors → zero loading rows (the oracle twin's CTE
    // chain is empty for the same reason — degenerate-corpus alignment)
    if (cells.isEmpty)
      return Seq.empty[(Long, Long)].toDF("dim", "loading_milli")
    val g = gramFromRows(cells, 64)
    val u0 = Array.fill(64)(1L)
    val u2 = stepLocal(g, stepLocal(g, u0))
    u2.toSeq.zipWithIndex.map { case (u, i) => (i + 1L, u) }
      .toDF("dim", "loading_milli")
  }

  /** Second principal direction by deflation: after [[powerIteration]]'s
    * two quantized steps give the dominant loading u, the Gram matrix
    * deflates cell-wise — d_ij = s_ij − round((uᵀMu/uᵀu)·(u_i·u_j/uᵀu)),
    * the rank-1 Rayleigh removal with every float op a fixed IEEE tree
    * over exact integers and one rounding back to the BIGINT grid — and
    * two more power steps run on d from an alternating ±1 start. u is
    * re-quantized to centi scale before deflation so uᵀMu stays inside
    * BIGINT at corpus scale (milli loadings overflow 2⁶³ past ~2k
    * vectors). The distributed stage is the [[covMatrix]]-shaped Gram
    * aggregation (the only corpus-scale work); the dims²-bounded
    * deflate-and-iterate then runs driver-side in the same exact
    * integer/HALF_UP arithmetic — identical values, ~2 jobs instead of
    * ~20 broadcast round-trips.
    */
  def powerIterationDeflated(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    val dims = 64
    val cells = gramCells(embeddings, dims).collect()
    // degenerate-corpus alignment: see [[powerIteration]]
    if (cells.isEmpty)
      return Seq.empty[(Long, Long)].toDF("dim", "loading2_milli")
    val g = gramFromRows(cells, dims)
    val u2 = stepLocal(g, stepLocal(g, Array.fill(dims)(1L)))
    // re-quantize milli→centi before deflation (uᵀMu must stay in BIGINT)
    val u1 = u2.map(x => roundHalfUp(x.toDouble / 10.0))
    val uu = u1.map(x => x * x).sum
    val umu = (0 until dims).map(i =>
      (0 until dims).map(j => g(i)(j) * u1(i) * u1(j)).sum).sum
    // a zero iterate (mass-less gram, see stepLocal) has nothing to
    // deflate — guard the uᵀu division the same way
    val deflated =
      if (uu == 0L) g
      else Array.tabulate(dims, dims)((i, j) =>
        g(i)(j) - roundHalfUp(
          (umu.toDouble / uu.toDouble) * ((u1(i) * u1(j)).toDouble / uu.toDouble)))
    val w0 = Array.tabulate(dims)(i => if ((i + 1) % 2 == 0) 1L else -1L)
    val w2 = stepLocal(deflated, stepLocal(deflated, w0))
    w2.toSeq.zipWithIndex.map { case (u, i) => (i + 1L, u) }
      .toDF("dim", "loading2_milli")
  }

  /** Histogram of query-to-corpus cosine similarity (0.05-wide bins on
    * the cent-rounded value) — the similarity-landscape profile that
    * sizes ANN thresholds before an index build. Bin count is bounded
    * by the cosine domain; the pair stage is the same broadcast-query
    * scan as [[cosineTopK]].
    */
  def cosineHistogram(embeddings: DataFrame, numQueries: Int = 10): DataFrame = {
    val corpus = withNorm(embeddings)
    val q = corpus
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("emb_d").as("qe"), col("norm").as("qnorm"))
    corpus
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(
        (round(lit(100) * (overNorms(dot(col("qe"), col("emb_d")), col("qnorm"), col("norm"))))
          .cast("long") + 100L).as("cent_shift"))
      // +100 keeps the bin key non-negative: integer `div` truncates
      // toward zero in Spark but floors in DuckDB, so negatives would
      // bin differently across engines
      .select(expr("cent_shift div 5").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (`k` rows ×
    * `dim`), fourth LCG seed of the [[planes]] family.
    */
  def jlSigns(k: Int, dim: Int): Seq[Array[Int]] = {
    // distinct from planes/centroids/pq seeds: jlSigns previously reused
    // [[centroids]]' seed verbatim, which made JL sign bit i a function
    // of the SAME LCG state whose high bits form IVF centroid component
    // i — the documented independence of the two codebooks was silently
    // false (any jlDistortion-vs-IVF-geometry analysis measured a
    // correlated pair). The oracle interpolates jlSigns into its SQL, so
    // parity moves with the constant.
    var state = 0x94D049BB133111EBL
    def next(): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      if (((state >>> 11) & 1L) == 1L) 1 else -1
    }
    Seq.fill(k)(Array.fill(dim)(next()))
  }

  /** Johnson–Lindenstrauss distortion report: the query vectors project
    * 64 → `k` dims through a deterministic ±1 sign matrix ON THE MILLI
    * INTEGER GRID (projection = signed integer sums, pairwise squared
    * distances in both spaces BIGINT-exact), and each query pair reports
    * d_k / (k·d_64) — the ratio JL says concentrates near 1. The only
    * float is that final division. The projection itself is one map-side
    * pass; the pair stage is queries²-bounded.
    */
  def jlDistortion(embeddings: DataFrame, k: Int = 8, numQueries: Int = 10): DataFrame = {
    val signs = jlSigns(k, 64)
    val ma = embeddings
      .filter(col("vec_id") < numQueries)
      .select(
        col("vec_id"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))")
          .as("ma"))
    val withY = signs.zipWithIndex.foldLeft(ma) { case (df, (row, j)) =>
      val arr = row.mkString("array(", "L, ", "L)")
      df.withColumn(s"y${j + 1}", dotInt(col("ma"), expr(arr)))
    }
    val d8 = (1 to k).map(j => s"(a.y$j - b.y$j) * (a.y$j - b.y$j)").mkString(" + ")
    withY.as("a")
      .join(withY.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"),
        sqDist(col("a.ma"), col("b.ma")).as("d64"),
        expr(d8).as("dk"))
      // duplicate vectors (d64 = 0 after milli quantization) have no
      // distortion ratio: NULL via the lazy integer CASE — Spark ANSI
      // throws on 0/0 where DuckDB yields NaN
      .withColumn(
        "ratio",
        expr(s"CASE WHEN d64 = 0 THEN NULL ELSE CAST(dk AS DOUBLE) / ($k.0 * CAST(d64 AS DOUBLE)) END"))
  }

  /** Recall@k curve of the IVF index against the exact brute-force
    * ranking, k = 1..`k`: for each cutoff, the fraction of true top-k
    * neighbors (over all queries) the index also ranks in ITS top-k.
    * One inner join of the two k-rows-per-query rankings, fanned out
    * over the k cutoffs (a `sequence` literal) — all counting, one
    * division per output row.
    */
  def recallCurve(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    val exact = cosineTopK(embeddings, numQueries, k)
      .select(col("qid"), col("nid"), col("rank").as("r_exact"))
    val ivf = ivfTopK(embeddings, numQueries, k)
      .select(col("qid"), col("nid"), col("rank").as("r_ivf"))
    val grid = embeddings.sparkSession
      .range(1)
      .select(explode(expr(s"sequence(CAST(1 AS BIGINT), CAST($k AS BIGINT))")).as("k"))
    val hits = exact
      .join(ivf, Seq("qid", "nid"))
      .crossJoin(grid)
      .filter(col("r_exact") <= col("k") && col("r_ivf") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("h"))
    // denominator = ACTUAL truth rows at each cutoff, not the nominal
    // numQueries·k (the recallAgainst/matryoshkaRecall contract): with
    // fewer than numQueries+k vectors, or any query with fewer than k
    // same-corpus neighbors, the nominal denominator scores a PERFECT
    // ranking below 1.0 — and both engines shared that formula, so the
    // gate never saw it
    val truth = exact
      .crossJoin(grid)
      .filter(col("r_exact") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("t"))
    grid
      .join(hits, Seq("k"), "left_outer")
      .join(truth, Seq("k"), "left_outer")
      .select(
        col("k"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        coalesce(col("t"), lit(0L)).as("n_truth"))
      .select(
        col("k"), col("n_hits"), col("n_truth"),
        expr("CASE WHEN n_truth = 0 THEN NULL ELSE CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) END")
          .as("recall"))
  }

  /** Farthest-point (k-center greedy) seeding over the milli-quantized
    * embedding grid: start from the lowest vec_id, repeatedly pick the
    * vector farthest (integer squared L2, vec_id tie-break) from the
    * chosen set — the 2-approximation k-center seeding that
    * initializes a codebook without an RNG. Emits `k` center rows plus
    * one witness row: the next-farthest point, whose distance IS the
    * coverage radius of the chosen set. Each round is one corpus scan
    * against a broadcast 1-row pick (the driver loop only grows the
    * plan, no data moves through the driver), and every distance is a
    * BIGINT — bit-identical anywhere.
    */
  def kcenterSeeds(embeddings: DataFrame, k: Int = 4): DataFrame = {
    val m = embeddings.select(
      col("vec_id"),
      expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))")
        .as("mv"))
    val c0 = m.orderBy(col("vec_id").asc).limit(1)
    var dists = m
      .crossJoin(broadcast(c0.select(col("vec_id").as("cid"), col("mv").as("cv"))))
      .select(col("vec_id"), col("mv"), sqDist(col("mv"), col("cv")).as("d"))
    var picks = c0.select(col("vec_id"), lit(0L).as("rank"), lit(0L).as("sq_dist"))
    for (r <- 1 until (k + 1)) {
      val next = dists.orderBy(col("d").desc, col("vec_id").asc).limit(1)
      picks = picks.unionByName(
        next.select(col("vec_id"), lit(r.toLong).as("rank"), col("d").as("sq_dist")))
      if (r < k) {
        dists = dists
          .crossJoin(broadcast(next.select(col("mv").as("cv"))))
          .select(col("vec_id"), col("mv"), least(col("d"), sqDist(col("mv"), col("cv"))).as("d"))
      }
    }
    picks.select(col("rank"), col("vec_id"), col("sq_dist"))
  }

  /** IVF inverted-list balance audit: occupancy per coarse cell plus
    * each cell's load factor n_cell·k/N (1.0 = perfectly balanced).
    * Skewed cells are THE operational failure of IVF at scale — a hot
    * cell turns single-probe search back into brute force — so the
    * index build pipeline watches this table. One map-side assignment
    * pass (native [[graft.functions.NearestCentroid]]), one
    * |cells|-bounded aggregate.
    */
  def ivfBalance(embeddings: DataFrame, numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    val celled = embeddings
      .select(cellId(col("embedding"), cs).cast("long").as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    celled
      .crossJoin(broadcast(celled.agg(sum(col("n_vecs")).as("n_total"))))
      .select(
        col("cell"),
        col("n_vecs"),
        col("n_total"),
        expr(s"CAST(n_vecs * $numCells AS DOUBLE) / CAST(n_total AS DOUBLE)").as("load_factor"))
  }

  /** IVF cell label purity: per coarse cell, the share of vectors
    * carrying the cell's majority label — the external clustering-
    * quality readout (a partition whose cells mix labels will also mix
    * semantic neighbors, degrading single-probe recall). One corpus-
    * scale (cell, label) count; the majority pick and purity run over
    * the ≤ cells·|labels| aggregate (ties break to the smaller label).
    */
  def ivfPurity(embeddings: DataFrame, numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    val counts = embeddings
      .select(
        cellId(col("embedding"), cs).cast("long").as("cell"),
        col("label").cast("long").as("label"))
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("cell"))
      .agg(sum(col("n")).as("n_vecs"), count(lit(1)).as("n_labels"))
    val major = Relational.topKPerGroup(counts, 1, Seq(col("cell")), col("n").desc, col("label").asc)
      .select(col("cell"), col("label").as("major_label"), col("n").as("n_major"))
    totals.join(major, Seq("cell")).select(
      col("cell"), col("n_vecs"), col("n_labels"), col("major_label"), col("n_major"),
      expr("CAST(n_major AS DOUBLE) / CAST(n_vecs AS DOUBLE)").as("purity"))
  }

  /** IVF quantizer distortion: each vector's squared L2 distance to its
    * assigned centroid (the value the coarse quantizer minimizes —
    * native kernel [[graft.functions.NearestCentroidDist]], identical
    * fold order to the oracle's dot products), micro-quantized PER ROW
    * so the corpus-wide sum is an order-free BIGINT. Emits total, mean
    * and max distortion — the k-means objective a Lloyd iteration
    * descends, now measurable per build.
    */
  def ivfDistortion(embeddings: DataFrame, numCells: Int = 8): DataFrame = {
    val cs = centroids(numCells, 64)
    embeddings
      .select(
        graft.functions.VectorFunctions
          .nearestCentroidDist(asDouble(col("embedding")), cs)
          .as("d"))
      .select(expr("CAST(round(d * 1000000.0) AS BIGINT)").as("dq"))
      .agg(
        count(lit(1)).cast("long").as("n_vecs"),
        sum(col("dq")).as("total_micro"),
        max(col("dq")).as("max_micro"))
      .select(
        col("n_vecs"),
        col("total_micro"),
        col("max_micro"),
        expr("(CAST(total_micro AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / 1000000.0")
          .as("mean_distortion"))
  }

  /** PQ quantizer distortion: each vector's total squared reconstruction
    * error Σⱼ min-dist over subspace j's codebook — the objective PQ
    * training minimizes, per-build measurable like [[ivfDistortion]].
    * Per-subspace minima are array_min over the same expanded
    * `s·s − 2·s·c + c·c` distance lists as [[pqTopK]], summed in FIXED
    * subspace order, then micro-quantized per row so the corpus sum is
    * an order-free BIGINT.
    */
  def pqDistortion(embeddings: DataFrame, m: Int = 8, codebookSize: Int = 16): DataFrame = {
    val subDim = 64 / m
    val books = pqCodebooks(m, codebookSize, subDim)
    val emb = embeddings.withColumn("v", asDouble(col("embedding")))
    val total = (0 until m)
      .map { j =>
        val sub = slice(col("v"), j * subDim + 1, subDim)
        array_min(array(books(j).map { c =>
          val cLit = typedLit(c.toSeq)
          dot(sub, sub) - lit(2.0) * dot(sub, cLit) + lit(c.map(x => x * x).sum)
        }: _*))
      }
      .reduce(_ + _)
    emb
      .select(total.as("d"))
      .select(expr("CAST(round(d * 1000000.0) AS BIGINT)").as("dq"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dq")).as("total_micro"), max(col("dq")).as("max_micro"))
      .select(
        col("n_vecs").cast("long").as("n_vecs"),
        col("total_micro"),
        col("max_micro"),
        expr("(CAST(total_micro AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / 1000000.0")
          .as("mean_distortion"))
  }

  /** Local Outlier Factor (k=5) over a 25% hash sample of the embedding
    * corpus — the density-ratio outlier detector that catches points in
    * locally sparse regions where global distance cutoffs fail. All
    * base distances are EXACT integers (squared L2 in the milli-
    * quantized grid — the same convention as [[labelCentroids]]), so
    * kNN sets, k-distances and reachability maxima are bit-portable;
    * lrd and LOF are shared-text double ratios on top. Runs on the
    * deterministic `vec_id % 4 = 0` sample: LOF is O(n²) in any exact
    * form, and the reference-sample pattern (score against a fixed
    * sample) is how it deploys at corpus scale. Documented variant:
    * distances are SQUARED L2 (monotone-equivalent neighbor sets).
    */
  def lofOutliers(embeddings: DataFrame, k: Int = 5, topN: Int = 10): DataFrame = {
    def milli(): DataFrame = embeddings
      .filter(col("vec_id") % 4 === 0)
      .select(
        col("vec_id"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), v -> CAST(round(v * 1000) AS BIGINT))")
          .as("m"))
    val a = milli().select(col("vec_id").as("a"), col("m").as("ma"))
    val b = milli().select(col("vec_id").as("b"), col("m").as("mb"))
    val pairs = a
      .join(b, col("a") =!= col("b"))
      .withColumn(
        "d2",
        sqDist(col("ma"), col("mb"))) // native codegen'd integer loop
    val knn = Relational.topKPerGroup(pairs, k, Seq(col("a")), col("d2").asc, col("b").asc)
      .select(col("a"), col("b"), col("d2"), col("rank"))
      .cacheT()
    val kdistOf = knn.filter(col("rank") === k).select(col("a").as("node"), col("d2").as("kdist"))
    val reach = knn
      .join(kdistOf.select(col("node").as("b"), col("kdist")), Seq("b"))
      .select(col("a"), col("b"), greatest(col("d2"), col("kdist")).as("reach"))
    val lrd = reach
      .groupBy(col("a"))
      .agg(sum(col("reach")).as("sum_reach"))
      .select(
        col("a"),
        // k+1 identical vectors give every neighbor reach 0: lrd is NULL
        // via the lazy integer CASE (ANSI throws on k/0 where DuckDB
        // yields inf) — duplicate-heavy corpora are exactly where an
        // outlier screen runs, and an undefined density is more honest
        // than an infinite one
        expr(s"CASE WHEN sum_reach = 0 THEN NULL ELSE CAST($k AS DOUBLE) / CAST(sum_reach AS DOUBLE) END")
          .as("lrd"))
    // Σ lrd_b must NOT be a float sum aggregate (partition-order noise):
    // collect the k neighbor lrds sorted by rank and add them in a fixed
    // 5-term expression
    val sumB = (1 to k).map(i => s"element_at(arr, $i).lb").mkString("(", " + ", ")")
    val lof = knn
      .join(lrd.select(col("a").as("b"), col("lrd").as("lrd_b")), Seq("b"))
      .groupBy(col("a"))
      .agg(sort_array(collect_list(struct(col("rank"), col("lrd_b").as("lb")))).as("arr"))
      .join(lrd, Seq("a"))
      .select(
        col("a"),
        expr(s"$sumB / (CAST($k AS DOUBLE) * lrd)").as("lof"))
    Relational
      .rankedTopK(lof, topN, col("lof").desc, col("a").asc)
      .select(col("rank"), col("a").as("vec_id"), col("lof"))
  }

  /** kNN regression of the cluster label from the 5 nearest cosine
    * neighbors: prediction = neighbor-label mean (an exact 5-integer
    * ratio), error = |pred − true|. The regression twin of
    * [[knnClassify]], sharing its broadcast-query top-k shape.
    */
  def knnRegression(embeddings: DataFrame, numQueries: Int = 20, k: Int = 5): DataFrame = {
    val labels = embeddings.select(col("vec_id"), col("label"))
    cosineTopK(embeddings, numQueries, k)
      .join(
        broadcast(labels.select(col("vec_id").as("nid"), col("label").as("n_label"))),
        Seq("nid"))
      .groupBy(col("qid"))
      .agg(sum(col("n_label").cast("long")).as("label_sum"), count(lit(1)).cast("long").as("kk"))
      .join(
        broadcast(labels.select(col("vec_id").as("qid"), col("label").as("true_label"))),
        Seq("qid"))
      .select(
        col("qid"),
        col("true_label").cast("long").as("true_label"),
        col("label_sum"),
        expr("CAST(label_sum AS DOUBLE) / CAST(kk AS DOUBLE)").as("pred"),
        expr("abs(CAST(label_sum AS DOUBLE) / CAST(kk AS DOUBLE) - CAST(true_label AS DOUBLE))")
          .as("abs_err"))
  }

  /** Nearest-centroid (Rocchio) classifier accuracy per label: the
    * per-label centroid rounds to the integer milli grid (the
    * [[labelCentroids]] convention — a float centroid would poison
    * every downstream distance with summation-order noise), each
    * vector's distance to each centroid is then a pure BIGINT sum, and
    * the argmin (tie → smaller label) is exact. Per-label accuracy
    * rows; the |labels|×dims centroid table broadcasts.
    */
  def rocchioAccuracy(embeddings: DataFrame): DataFrame = {
    val exploded = embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim0", "v")))
      .select(
        col("vec_id"),
        col("label"),
        col("dim0"),
        expr("CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)").as("mv"))
    val cents = exploded
      .groupBy(col("label").as("clabel"), col("dim0"))
      .agg(expr("CAST(round(CAST(sum(mv) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT)").as("cv"))
    val dists = exploded
      .join(broadcast(cents), Seq("dim0"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("mv") - col("cv")) * (col("mv") - col("cv"))).as("d2"))
    Relational.topKPerGroup(dists, 1, Seq(col("vec_id")), col("d2").asc, col("clabel").asc)
      .groupBy(col("label").cast("long").as("label"))
      .agg(
        count(lit(1)).cast("long").as("n_vecs"),
        sum(when(col("clabel") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(
        col("label"),
        col("n_vecs"),
        col("n_correct"),
        expr("CAST(n_correct AS DOUBLE) / CAST(n_vecs AS DOUBLE)").as("accuracy"))
  }

  /** Embedding-norm QA histogram: corpus count, zero-vector count, and
    * the distribution of squared norms in 0.5-wide buckets (norms come
    * from the same sequential-fold dot product as every ANN operator,
    * bucketed per row — deterministic, order-free). The hygiene check
    * before any cosine-space index build: zero vectors break cosine,
    * and a bimodal norm histogram betrays mixed embedding versions.
    */
  def embeddingNorms(embeddings: DataFrame): DataFrame = {
    val nn = embeddings
      .select(dot(asDouble(col("embedding")), asDouble(col("embedding"))).as("nsq"))
    nn.select(
        expr("CAST(floor(nsq * 2.0) AS BIGINT)").as("bucket"),
        expr("CASE WHEN nsq = 0.0 THEN 1 ELSE 0 END").as("z"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("z")).cast("long").as("n_zero"))
      .select(
        col("bucket"),
        expr("CAST(bucket AS DOUBLE) / 2.0").as("norm_sq_lo"),
        col("n_vecs"),
        col("n_zero"))
  }
}
