package graft.multimodal

import graft.engine.Stages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode/feature-extract
  * steps as partition-wise batch functions.
  *
  * The container has no media libraries, so the DECODE ITSELF IS A
  * CLEARLY-MARKED DETERMINISTIC FAKE ([[FakeCodec]]); everything around it
  * — binary column handling, metadata schema, `mapPartitions` batch shape,
  * partition sizing — is real and is what matters at 100 TB (decode is
  * embarrassingly parallel; the engine's job is batching and schema).
  */
object Multimodal {

  /** STUB decoder — stands in for libjpeg/ffmpeg, which are not in this
    * container. Deterministic: derives fake dimensions from the payload
    * header and cuts fixed-size "frames" so tests can assert exact
    * output. Replace `decode` with a real codec binding at deployment.
    */
  object FakeCodec {
    val FrameBytes = 16
    def decode(payload: Array[Byte]): Iterator[(Int, Int, Int, Array[Byte])] = {
      // a NULL blob decodes to zero frames — the codec-skip convention
      // every real decoder follows (r10 degenerate probe: an unguarded
      // null payload NPE'd the whole partition's task)
      if (payload == null) return Iterator.empty
      val width = 16 + (if (payload.isEmpty) 0 else (payload(0) & 0x7f))
      val height = 9 + (if (payload.length < 2) 0 else (payload(1) & 0x3f))
      payload.grouped(FrameBytes).zipWithIndex.map { case (chunk, i) => (i, width, height, chunk) }
    }
  }

  /** Binary ingestion: payload bytes (here: utf-8 of `text`, standing in
    * for image bytes) + typed metadata computed with codegen'd built-ins
    * — byte length, sha256, header hex. This projection is what a
    * parquet-backed media table stores alongside the blob.
    */
  def mediaTable(documents: DataFrame): DataFrame = {
    val payload = col("text").cast("binary")
    documents.select(
      col("doc_id"),
      payload.as("payload"),
      length(payload).cast("long").as("byte_len"),
      sha2(payload, 256).as("sha"),
      lower(hex(substring(payload, 1, 8))).as("header_hex"))
  }

  /** Per-frame signal energy over the payload: Σ code² for consecutive
    * `frame`-char windows via the native [[graft.functions.FrameEnergy]]
    * kernel (codegen'd scalar loop — the audio-RMS-style feature pass an
    * ingest pipeline runs over every blob), plus the RMS amplitude per
    * frame (one sqrt/division over the exact integer energy). Map-side
    * only; output rows ≈ corpus_bytes / frame.
    */
  def frameEnergies(documents: DataFrame, frame: Int = 256): DataFrame =
    documents
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("byte_len"),
        posexplode(graft.functions.VectorFunctions.frameEnergy(col("text"), frame))
          .as(Seq("frame_id", "energy")))
      .select(
        col("doc_id"),
        col("frame_id").cast("long").as("frame_id"),
        least(lit(frame.toLong), col("byte_len") - col("frame_id") * frame).as("n_bytes"),
        col("energy"),
        // the kernel's empty-payload phantom frame has n_bytes = 0: rms
        // is NULL via the lazy integer CASE — unguarded, Spark ANSI
        // throws DIVIDE_BY_ZERO on the 0/0 (energy is 0, NOT NULL, so
        // nothing short-circuits) where DuckDB yields NaN
        expr("CASE WHEN n_bytes > 0 THEN sqrt(CAST(energy AS DOUBLE) / CAST(n_bytes AS DOUBLE)) END")
          .as("rms"))

  /** Per-payload byte entropy — the compressibility probe that separates
    * text from random/encrypted/binary junk in a mixed dump (text sits
    * ~4–4.7 bits/byte, compressed media near 8). Per-(doc, byte-value)
    * counts (≤ 256·N rows, map-combined), each term quantized to integer
    * MICRONATS (`round(1e6·c·ln c)`, half-away-from-zero on both
    * engines) so the per-doc sum is exact integer arithmetic; entropy in
    * BITS is `(ln n − Σ/1e6/n) / ln 2` with the shared ln-2 decimal
    * literal. Flags `high_entropy` above 6 bits/byte.
    */
  def payloadEntropy(documents: DataFrame): DataFrame = {
    // One-pass native histogram kernel per payload (zero shuffles) in
    // place of the explode-per-character spelling, which shuffled
    // corpus×len (doc, byte) rows through two aggregations — the
    // dominant cost here and a scale liability. Identical integer
    // sufficient statistics (the kernel mirrors ascii(substring)
    // codepoints, ln via the same libm call, round on a non-negative
    // argument), so the oracle arithmetic is unchanged — with ONE
    // deliberate divergence: the empty payload yields (0, 0, 0) and a
    // NULL bits_per_byte, where the old spelling's sequence(1, 0)
    // artifact reported n_bytes=2/n_distinct=1 (pinned in
    // FuncParitySpec "empty payload").
    documents
      .select(
        col("doc_id"),
        graft.functions.VectorFunctions.byteEntropyStats(col("text")).as("s"))
      .select(
        col("doc_id"),
        col("s.n_bytes").as("n_bytes"),
        col("s.n_distinct").as("n_distinct"),
        col("s.ent_micro").as("ent_micro"))
      .select(
        col("doc_id"), col("n_bytes"), col("n_distinct"),
        // the n_bytes > 0 CASE is explicit even though the unguarded
        // expression happens to survive the empty payload today (ln(0)
        // is NULL and codegen short-circuits the right operand before
        // its 0/0 division can throw under ANSI) — an evaluation-order
        // accident is not a contract; the oracle carries the same CASE
        expr("""CASE WHEN n_bytes > 0 THEN
                (ln(CAST(n_bytes AS DOUBLE)) -
                 CAST(ent_micro AS DOUBLE) / (1000000.0 * CAST(n_bytes AS DOUBLE)))
                / 0.6931471805599453 END""").as("bits_per_byte"))
      .withColumn("high_entropy", col("bits_per_byte") > 6.0)
  }

  /** Strided binary slice sampling — the oracle-checkable face of frame
    * sampling: fixed-width byte windows every `strideBytes` into the
    * payload, fingerprinted without decoding (content-defined dedup /
    * probe sampling over video blobs works exactly like this). Pure
    * map-side: slice count derives from byte_len in integer arithmetic,
    * the slice array explodes inline, and the fingerprint is md5 over
    * the slice's hex text (the payload here is ASCII-text bytes, so the
    * DuckDB oracle reproduces byte slices as text slices byte-for-byte;
    * with true binary media the oracle would compare plumbing only).
    */
  def payloadSlices(media: DataFrame, sliceBytes: Int = 64, strideBytes: Int = 128): DataFrame =
    media
      // an empty payload has ZERO slices. Without this guard,
      // (0 - 1) div stride truncates to 0 and sequence(0, 0) emits one
      // bogus empty slice whose md5('') fingerprint every empty payload
      // shares, linking them all in the containment/near-dup screens.
      // DuckDB's `//` ALSO truncates toward zero (empirically:
      // (0-1)//128 = 0, generate_series(0, 0) = one row — an earlier
      // comment here wrongly claimed it floors), so the oracles carry
      // the same explicit `WHERE length(text) > 0` guard; the fixture
      // has no empty payloads, so fixture hashes are unchanged either
      // way.
      .filter(col("byte_len") > 0)
      .selectExpr(
        "doc_id",
        "byte_len",
        s"""posexplode(transform(
              sequence(0L, CAST((byte_len - 1) div $strideBytes AS LONG)),
              i -> substring(payload, CAST(i * $strideBytes + 1 AS INT), $sliceBytes))) AS (slice_id, slice)""")
      .select(
        col("doc_id"),
        col("slice_id").cast("long").as("slice_id"),
        (col("slice_id").cast("long") * strideBytes).as("byte_off"),
        length(col("slice")).cast("long").as("n_bytes"),
        md5(lower(hex(col("slice")))).as("slice_md5"))

  /** PINNED distinct (doc_id, slice_md5) fingerprint table — the
    * postings list every cross-payload media-dedup analysis probes.
    * Parameter-free per corpus (default 64-byte slices every 128), so
    * a production deployment materializes it once per snapshot next to
    * the blobs; per-query work is threshold application.
    */
  private def sliceFp(media: DataFrame): DataFrame =
    graft.engine.Views.pinned(media, "sliceFp64x128")(m =>
      payloadSlices(m).select(col("doc_id"), col("slice_md5")).distinct())

  /** PINNED per-document distinct-slice counts — the size column every
    * overlap/containment score divides by, materialized once next to
    * the postings instead of re-aggregated per query.
    */
  private def sliceDocCounts(media: DataFrame): DataFrame =
    graft.engine.Views.pinned(media, "sliceDocCounts64x128")(m =>
      sliceFp(m).groupBy(col("doc_id")).agg(count(lit(1)).as("n_slices")))

  /** PINNED unfiltered shared-slice pair-count matrix (same policy as
    * the winnow fingerprint pair matrix): the stop-slice cap is a
    * property of the materialized index (in the tag, so a non-default
    * cap builds its own pin); `minShared` stays per-query parameter
    * application. Bounded by the postings buckets, not the corpus.
    */
  private def slicePairCounts(media: DataFrame, maxBucket: Int): DataFrame =
    graft.engine.Views.pinned(media, s"slicePairs64x128x$maxBucket") { m =>
      val sl = sliceFp(m)
      val buckets = sl
        .groupBy(col("slice_md5"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c").between(2, maxBucket))
        .select(col("slice_md5"))
      val inBucket = sl.join(buckets, Seq("slice_md5"))
      inBucket
        .select(col("slice_md5"), col("doc_id").as("da"))
        .join(inBucket.select(col("slice_md5"), col("doc_id").as("db")), Seq("slice_md5"))
        .filter(col("da") < col("db"))
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("shared"))
    }

  /** Cross-payload slice-level near-dup: payload pairs sharing at least
    * `minShared` strided slice fingerprints — the clip-containment /
    * re-encode screen a media pipeline runs without decoding anything.
    * Candidates come exclusively from the slice-md5 postings buckets
    * (never a payload self-join); buckets larger than `maxBucket` are
    * stop-slices (boilerplate padding shared by everything) and are
    * dropped, the PPJoin stopword move. Overlap is reported as an exact
    * half-up integer permille of the smaller payload's slice set, so
    * the score is hash-stable cross-engine.
    */
  def sliceNearDup(media: DataFrame, minShared: Int = 2, maxBucket: Int = 50): DataFrame = {
    val nd = sliceDocCounts(media)
    val pairs = slicePairCounts(media, maxBucket).filter(col("shared") >= minShared)
    pairs
      .join(nd.select(col("doc_id").as("da"), col("n_slices").as("na")), Seq("da"))
      .join(nd.select(col("doc_id").as("db"), col("n_slices").as("nb")), Seq("db"))
      .select(
        col("da"), col("db"), col("shared"), col("na"), col("nb"),
        expr("(2000 * shared + least(na, nb)) div (2 * least(na, nb))").as("overlap_permille"))
      .orderBy(col("da"), col("db"))
  }

  /** Slice-level storage dedup estimate — the content-addressed chunk
    * store sizing number: how many bytes a CAS keeping one copy of each
    * distinct slice saves versus storing every occurrence. One
    * map-combined shuffle on the fingerprint compresses the slice
    * stream to the distinct-slice table; the report is a 1-row
    * aggregate, savings as exact half-up permille.
    */
  def sliceDedupRatio(media: DataFrame, sliceBytes: Int = 64, strideBytes: Int = 128): DataFrame = {
    val per = payloadSlices(media, sliceBytes, strideBytes)
      .groupBy(col("slice_md5"))
      // identical content → identical length, so max == the length
      .agg(count(lit(1)).as("copies"), max(col("n_bytes")).as("nb"))
    per
      .agg(
        sum(col("copies")).as("total_slices"),
        count(lit(1)).as("distinct_slices"),
        sum(col("copies") * col("nb")).as("total_bytes"),
        sum(col("nb")).as("distinct_bytes"))
      .select(
        col("total_slices"), col("distinct_slices"),
        col("total_bytes"), col("distinct_bytes"),
        expr("(2000 * (total_bytes - distinct_bytes) + total_bytes) div (2 * total_bytes)")
          .as("savings_permille"))
  }

  /** Directional slice containment — the clip-in-video screen: a payload
    * is "contained" in another when at least `minPermille` of its slice
    * fingerprints also appear in the other (shared slices from the
    * pinned pair matrix). Unlike [[sliceNearDup]]'s symmetric overlap,
    * each qualifying pair emits with the CONTAINED side as `inner_doc`
    * (both directions when mutual) — the asymmetric relation a media
    * dedup keeps the longer artifact for. Same pinned postings; pure
    * parameter application per query.
    */
  def sliceContainment(media: DataFrame, minPermille: Int = 800, maxBucket: Int = 50): DataFrame = {
    val nd = sliceDocCounts(media)
    val pairs = slicePairCounts(media, maxBucket)
      .join(nd.select(col("doc_id").as("da"), col("n_slices").as("na")), Seq("da"))
      .join(nd.select(col("doc_id").as("db"), col("n_slices").as("nb")), Seq("db"))
    val aInB = pairs
      .filter(expr(s"1000 * shared >= $minPermille * na"))
      .select(
        col("da").as("inner_doc"), col("db").as("outer_doc"), col("shared"),
        col("na").as("n_inner"), col("nb").as("n_outer"))
    val bInA = pairs
      .filter(expr(s"1000 * shared >= $minPermille * nb"))
      .select(
        col("db").as("inner_doc"), col("da").as("outer_doc"), col("shared"),
        col("nb").as("n_inner"), col("na").as("n_outer"))
    aInB
      .unionAll(bInA)
      .withColumn(
        "containment_permille",
        expr("(2000 * shared + n_inner) div (2 * n_inner)"))
      .orderBy(col("inner_doc"), col("outer_doc"))
  }

  /** Ingest screening for media — the slice-index analog of a MinHash
    * band screen ([[graft.text.Dedup.incrementalBestMatch]]): an incoming batch of payloads
    * computes its slice fingerprints INLINE (transient data is never
    * pinned) and probes the corpus's PINNED postings table; each batch
    * payload reports whether it hits the corpus (≥ `minShared` shared
    * slices) and its best-matching corpus document (most shared slices,
    * ties to the smallest id — a rank-1 window per batch doc, which is
    * high-cardinality-keyed and WindowGroupLimit-pruned). Works inside
    * `foreachBatch`; a production index would also drop stop-slices
    * (the [[sliceNearDup]] bucket cap) at index-build time.
    */
  def screenSlicesAgainst(batch: DataFrame, corpus: DataFrame, minShared: Int = 2): DataFrame = {
    val corpusFp = sliceFp(corpus)
    val batchFp = payloadSlices(batch)
      .select(col("doc_id").as("new_doc"), col("slice_md5"))
      .distinct()
    val matches = batchFp
      .join(
        corpusFp.select(col("slice_md5"), col("doc_id").as("best_match")),
        Seq("slice_md5"))
      .groupBy(col("new_doc"), col("best_match"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val best = graft.engine.Relational
      .topKPerGroup(matches, 1, Seq(col("new_doc")), col("shared").desc, col("best_match").asc)
      .drop("rank")
    batch
      .select(col("doc_id").as("new_doc"))
      .join(best, Seq("new_doc"), "left_outer")
      .select(
        col("new_doc"),
        col("best_match"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        col("best_match").isNotNull.as("is_dup"))
      .orderBy(col("new_doc"))
  }

  /** The batch-vs-corpus split form over one documents table (md5 of the
    * doc id, every fifth doc is "incoming") — the oracle-checkable face
    * of [[screenSlicesAgainst]], mirroring
    * [[graft.text.Dedup.incrementalBestMatch]]'s split rule.
    */
  def sliceScreen(documents: DataFrame, minShared: Int = 2): DataFrame = {
    val isBatch = s"${Stages.md5BitsSql("CAST(doc_id AS STRING)", "1", 8)} % 5 = 0"
    val media = mediaTable(documents)
    screenSlicesAgainst(media.filter(expr(isBatch)), media.filter(!expr(isBatch)), minShared)
  }

  /** Shard-locality audit over the slice near-dup pairs: for each
    * candidate shard count, how many duplicate pairs an id-hash-sharded
    * corpus could catch with SHARD-LOCAL dedup alone (both members land
    * in the same `doc_id mod n` shard) vs. needing the global pass.
    * The pair set is bounded (near-dup output, not the corpus), so the
    * per-shard-count expansion rides a broadcast literal anchor — the
    * answer every 100 TB dedup deployment wants before choosing between
    * cheap per-shard dedup and the full shuffle.
    */
  def sliceShardLocality(media: DataFrame, shards: Seq[Int] = Seq(4, 16, 64)): DataFrame = {
    val pairs = sliceNearDup(media).select(col("da"), col("db"))
    val anchor = broadcast(
      pairs.sparkSession
        .range(1)
        .select(explode(array(shards.map(lit(_)): _*)).as("n_shards")))
    pairs
      .crossJoin(anchor)
      .groupBy(col("n_shards"))
      .agg(
        count(lit(1)).as("dup_pairs"),
        sum(when(col("da") % col("n_shards") === col("db") % col("n_shards"), 1L).otherwise(0L))
          .as("intra_shard_pairs"))
      .select(
        col("n_shards").cast("long").as("n_shards"),
        col("dup_pairs"),
        col("intra_shard_pairs"),
        expr("(2000 * intra_shard_pairs + dup_pairs) div (2 * dup_pairs)").as("catch_permille"))
      .orderBy(col("n_shards"))
  }

  /** Feature extraction over sampled frames: per-frame byte statistics
    * (the stand-in for an embedding model forward pass), folded to one
    * row per document inside the SAME partition pass as the decode —
    * frames of one payload never leave their partition, so there is no
    * shuffle at all (vs. decode → explode frames → groupBy(doc)).
    *
    * The mean intensity accumulates EXACTLY: each frame's byte mean
    * S/L is scaled by LCM(1..16)=720720 (L ≤ [[FakeCodec.FrameBytes]])
    * into an integer, so the cross-frame sum is order-free and the
    * single half-up rounding to 2 decimals is pure integer arithmetic
    * ((2a+b) div 2b) — which is what lets a SQL engine recompute this
    * "decode" bit-identically from the payload BYTES (the DuckDB oracle
    * for q_frame_features reads them 2 hex chars at a time off
    * hex(encode(text)) — codepoint ascii() only coincides on pure-ascii
    * payloads).
    */
  def frameFeatures(spark: SparkSession, media: DataFrame, every: Int): DataFrame = {
    // plan-construction-time guard (the Winnow/FrameEnergy convention):
    // every <= 0 would die per-row as an opaque executor-side
    // ArithmeticException inside mapPartitions
    require(every > 0, s"frameFeatures requires every > 0, got $every")
    import spark.implicits._
    val Lcm = 720720L // LCM(1..16): exact common denominator for chunk means
    media
      .select(col("doc_id"), col("payload"))
      // Option[Long]: a null doc_id must not trip the non-nullable
      // primitive encoder's AssertNotNull (r10 degenerate probe); the
      // null id survives to the output column (toDF nullable)
      .as[(Option[Long], Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          var n = 0L
          var w = 0
          var h = 0
          var isum = 0L // Σ frames S_i · (LCM / L_i) — exact Σ S_i/L_i × LCM
          FakeCodec.decode(payload).foreach { case (i, fw, fh, bytes) =>
            if (i % every == 0) {
              n += 1
              w = math.max(w, fw)
              h = math.max(h, fh)
              var s = 0L
              var j = 0
              while (j < bytes.length) { s += (bytes(j) & 0xff); j += 1 }
              if (bytes.nonEmpty) isum += s * (Lcm / bytes.length)
            }
          }
          // mean = isum / (LCM·n); ×100 and round half-up in integers
          val mean =
            if (n == 0) 0.0
            else ((2L * isum * 100L + Lcm * n) / (2L * Lcm * n)) / 100.0
          (id, n, w, h, mean)
        }
      }
      .toDF("doc_id", "n_frames", "width", "height", "mean_intensity")
  }
}
