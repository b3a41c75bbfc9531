package graft.text

import graft.engine.Caches.CacheOps
import graft.engine.{Relational, Stages, Views}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID, and
  * document fingerprinting.
  *
  * All operators are narrow (per-row, no shuffle) and built from codegen'd
  * built-ins — at 100 TB they run map-side at scan speed with full column
  * pruning (only `doc_id`/`text` are read).
  *
  * Cross-engine determinism: token splits use `\s+` (same regex semantics
  * in Java regex and RE2), ratios are single per-row IEEE divisions (bit
  * identical in any engine), hashes are md5 hex (lowercase in both Spark
  * and DuckDB).
  */
object TextAnalysis {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Adjacent-token pair structs over a token array, natively:
    * `arrays_zip` of the two one-off slices. Replaces the
    * `transform(sequence(1, n−1), i -> struct(element_at(t, i),
    * element_at(t, i+1)))` spelling — Spark evaluates higher-order
    * lambdas INTERPRETED, one lambda call (plus two element_at walks)
    * per TOKEN of the corpus, where slice/arrays_zip are single native
    * array operations (r10 isolated A/B on q_bigram_pmi at sf0.1/32,
    * same session, flat q_tfidf control: 1.27 → 0.98 s, −23%).
    * Identical pairs in identical order, so every consumer's counts are
    * bit-identical; the struct fields are `w1` and `w2`. Callers
    * pre-filter `size(t) >= 2`, as before.
    */
  def adjacentPairs(t: Column): Column =
    arrays_zip(slice(t, lit(1), size(t) - 1).as("w1"), slice(t, lit(2), size(t) - 1).as("w2"))

  /** Language-specific stopword lists for the language-ID heuristic.
    * Deliberately small and overlapping-aware: ties resolve to 'und'.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "auf"),
    "es" -> Seq("el", "la", "de", "y", "los", "las", "es", "en", "un", "una"))

  /** Count of tokens belonging to a fixed vocabulary (n-gram heuristic
    * building block). `size(filter(...))` — array lambda, codegen'd.
    */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isin(vocab.map(lit(_)): _*)))

  /** Token count per document. */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))

  /** Quality scoring: length, token stats, punctuation and stopword
    * ratios. Ratios are raw per-row doubles (single division — exact
    * cross-engine reproducibility without rounding).
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val nChars = length(col("text"))
    val nSpaces = nChars - length(regexp_replace(col("text"), "\\s", ""))
    val enHits = vocabHits(toks, stopwords("en"))
    documents.select(
      col("doc_id"),
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      nSpaces.cast("long").as("n_spaces"),
      (nChars.cast("double") / nTokens.cast("double")).as("chars_per_token"),
      (enHits.cast("double") / nTokens.cast("double")).as("stopword_ratio"))
  }

  /** Language ID by stopword vote: the language whose stopword list hits
    * the most tokens wins; ties (including all-zero) → 'und'. A real
    * pipeline would use character n-gram profiles; the vote structure —
    * per-row scores + argmax — is the same and this stays SQL-mirrorable.
    */
  def languageId(documents: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    val scored = documents.select(
      col("doc_id"),
      vocabHits(toks, stopwords("en")).as("s_en"),
      vocabHits(toks, stopwords("fr")).as("s_fr"),
      vocabHits(toks, stopwords("de")).as("s_de"),
      vocabHits(toks, stopwords("es")).as("s_es"))
    val best = greatest(col("s_en"), col("s_fr"), col("s_de"), col("s_es"))
    // strict argmax in fixed order en>fr>de>es; a tie for the max → 'und'
    val winners =
      when(col("s_en") === best, 1).otherwise(0) +
        when(col("s_fr") === best, 1).otherwise(0) +
        when(col("s_de") === best, 1).otherwise(0) +
        when(col("s_es") === best, 1).otherwise(0)
    scored.select(
      col("doc_id"),
      when(best === 0 || winners > 1, "und")
        .when(col("s_en") === best, "en")
        .when(col("s_fr") === best, "fr")
        .when(col("s_de") === best, "de")
        .otherwise("es")
        .as("pred_lang"))
  }

  /** BPE-ish tokenizer regex: letter runs, digit runs, or single
    * punctuation — the pre-tokenization split most BPE vocabularies
    * assume. ASCII-only classes so Java regex (Spark) and RE2 (DuckDB)
    * agree.
    */
  val bpeSplitPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Token counting under the BPE-ish pre-tokenizer (vs whitespace
    * tokens in [[tokenCount]]) — the "how many tokens will my LLM see"
    * estimator.
    */
  def bpeTokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(bpeSplitPattern), lit(0))).cast("long").as("n_bpe_tokens"))

  /** Tokenizer fertility per language: characters and whitespace words
    * per BPE-ish token, by `lang` — the multilingual-budget metric (a
    * language with high chars-per-token costs fewer model tokens per
    * byte; fertility skews decide per-language sampling weights and
    * context-length budgeting). One map-combined aggregate; ratios are
    * single divisions over exact integer sums.
    */
  def tokenizerFertility(documents: DataFrame): DataFrame =
    documents
      .select(
        col("lang"),
        length(col("text")).cast("long").as("chars"),
        size(tokens(col("text"))).cast("long").as("words"),
        size(regexp_extract_all(col("text"), lit(bpeSplitPattern), lit(0))).cast("long")
          .as("bpe"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("chars")).as("chars_total"),
        sum(col("words")).as("words_total"),
        sum(col("bpe")).as("bpe_total"))
      .select(
        col("lang"), col("n_docs"), col("chars_total"), col("words_total"), col("bpe_total"),
        // nullif: a language bucket of empty/whitespace-only docs zeroes
        // either total — NULL ratio on both engines (DuckDB /0 = NULL;
        // ANSI Spark throws). Extreme-fixture sweep, r10.
        expr("CAST(chars_total AS DOUBLE) / nullif(CAST(bpe_total AS DOUBLE), 0.0)").as("chars_per_token"),
        expr("CAST(bpe_total AS DOUBLE) / nullif(CAST(words_total AS DOUBLE), 0.0)").as("tokens_per_word"))

  /** Corpus quality filter: the keep/drop decision an LLM-data pipeline
    * applies from the [[qualityScore]] metrics — pure narrow filter,
    * pushed to the scan.
    */
  def qualityFilter(
      documents: DataFrame,
      minChars: Int,
      maxChars: Int,
      minTokens: Int): DataFrame = {
    val nTokens = size(tokens(col("text")))
    documents
      .filter(length(col("text")).between(minChars, maxChars) && nTokens >= minTokens)
      .select(
        col("doc_id"),
        col("source"),
        length(col("text")).cast("long").as("n_chars"),
        nTokens.cast("long").as("n_tokens"))
  }

  /** Ordinal token explosion — `posexplode` with the position preserved,
    * the lateral-view building block every sequence-aware text op
    * (n-grams, positional vocabularies, attention-window prep) starts
    * from. Emitted capped to the first `maxPos` positions per doc so the
    * verify surface stays bounded; the uncapped explode is the same plan
    * without the filter.
    */
  def posExplode(documents: DataFrame, maxPos: Int = 8): DataFrame =
    documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .filter(col("pos") < maxPos)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  /** Document-length magnitude histogram per language: bucket =
    * `length(bin(n_chars))` (⌊log2⌋+1 — the log-free magnitude read, see
    * [[graft.engine.Relational.mathFuncs]]), with count and per-bucket
    * char-length extrema. The curation dashboard that shows each
    * language's length distribution on a doubling scale. One
    * map-combined aggregate; output is |langs|·64-bounded.
    */
  def docLengthHistogram(documents: DataFrame): DataFrame =
    documents
      .groupBy(
        col("lang"),
        expr("CAST(length(bin(n_chars)) AS BIGINT)").as("len_bits"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Bigram novelty per document: the share of a document's DISTINCT
    * token bigrams whose corpus-wide first appearance (min doc_id over
    * the bigram's postings) IS this document — the contribution-scoring
    * pass that separates fresh text from recombinations during corpus
    * curation. Two vocabulary-keyed aggregates (distinct doc-bigrams,
    * then first-doc per bigram) and one co-partitioned join back on the
    * bigram key; no corpus-scale window anywhere. Single-token docs have
    * no bigrams and drop out, as in [[bigramPmi]].
    */
  def ngramNovelty(documents: DataFrame): DataFrame = {
    val toksDf = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    val bigrams = toksDf
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(adjacentPairs(col("t"))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      .distinct()
    val first = bigrams.groupBy(col("w1"), col("w2")).agg(min(col("doc_id")).as("first_doc"))
    bigrams
      .join(first, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(
        col("doc_id"), col("n_grams"), col("n_novel"),
        expr("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)").as("novelty"))
  }

  /** String-function battery over documents — the scalar string surface
    * (substr/upper/reverse/lpad/replace/levenshtein/concat_ws) exercised
    * as one narrow projection.
    */
  def stringFuncs(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      upper(substring(col("text"), 1, 3)).as("up3"),
      reverse(substring(col("text"), 1, 10)).as("head_rev"),
      lpad(col("source"), 8, "_").as("padded"),
      expr("replace(substring(text, 1, 20), ' ', '-')").as("dashed"),
      levenshtein(col("lang"), col("source")).cast("long").as("lev"),
      concat_ws("|", col("lang"), col("source")).as("cat"))

  /** Winnowing fingerprint summary (see [[graft.functions.Winnow]]):
    * k=8 char grams, window 4 — per doc, the count and extrema of the
    * selected rolling-hash minima. The full fingerprint array is the
    * dedup/overlap key at scale; the summary keeps the verify output
    * scalar.
    */
  def winnowFingerprint(documents: DataFrame): DataFrame =
    winnowArrays(documents)
      .select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        element_at(col("fps"), 1).as("min_fp"),
        element_at(col("fps"), -1).as("max_fp"))

  /** Per-doc winnowing fingerprint arrays (8-gram hash, window 4) —
    * PINNED: the winnow kernel evaluation dominates both consumers
    * ([[winnowFingerprint]], [[winnowCopyPairs]]), so it runs once per
    * (session, corpus).
    */
  private def winnowArrays(documents: DataFrame): DataFrame =
    graft.engine.Views.pinned(documents, "winnow8x4")(
      _.withColumn("fps", graft.functions.VectorFunctions.winnow(col("text"), 8, 4))
        .select(col("doc_id"), col("fps")))

  /** Heaps'-law vocabulary growth: cumulative distinct-token count as
    * the corpus grows in doc_id order, reported at each document that
    * INTRODUCES vocabulary. Each token contributes at its first
    * document (one min-aggregate over the postings), the firsts
    * collapse to a per-introducing-doc histogram — a VOCABULARY-bounded
    * series, not a corpus-bounded one — and one running window over
    * that series yields the curve. Docs that introduce nothing are
    * implied by the preceding curve point, which is what keeps the
    * single-partition window safe at any corpus size.
    */
  def vocabGrowth(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc"))
      .agg(count(lit(1)).as("n_new_tokens"))
      .withColumn(
        "vocab_size",
        sum(col("n_new_tokens")).over(
          Window.partitionBy(lit(1)).orderBy(col("first_doc").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("first_doc").as("doc_id"), col("n_new_tokens"), col("vocab_size"))
  }

  /** Inverted-index build: one postings row per vocabulary token with
    * document frequency, total term frequency, and the posting-list
    * doc-id bounds — the IR-index construction pass. Corpus-side work
    * is one explode + two map-combined aggregates keyed on token;
    * output is vocabulary-sized.
    */
  def invertedIndex(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** MOSS-style copy detection: documents sharing at least `minShared`
    * winnowing fingerprints (the [[winnowFingerprint]] selection — local
    * minima of rolling 8-gram hashes over a window of 4) become copy
    * candidates, scored by shared-fingerprint count and the
    * containment-style overlap vs the smaller document. Winnowing
    * guarantees any sufficiently long verbatim passage contributes a
    * shared fingerprint, while selecting only window-minima keeps each
    * document's posting list ~1/4 of its n-gram count — the join key
    * distribution is minima-of-hashes (spread), not raw n-gram
    * frequency. One fingerprint-keyed equi-join of postings; counts
    * map-combine per pair.
    */
  def winnowCopyPairs(documents: DataFrame, minShared: Int): DataFrame = {
    // The fingerprint index (fp → sorted doc list, ubiquitous fps
    // dropped) is PINNED — it IS the MOSS index a deployment
    // materializes once per corpus. Ubiquitous fingerprints (df above 5%
    // of the corpus) carry no copy signal and are THE pair-explosion
    // source: a fingerprint in d docs contributes C(d,2) pairs, so
    // capping df bounds the pair volume by (0.05·N)·|postings| instead
    // of Σd² (MOSS drops them for the same reason); the cap rides in via
    // a 1-row aggregate cross-join. Pairs are generated IN-PLAN from the
    // sorted doc array (doc_a < doc_b by construction) — the same
    // basket-explode shape as [[graft.engine.Graph.coOrderEdges]], which
    // replaces the former postings self-join (a second corpus-postings
    // shuffle) with one map-side explode over the bucketed index.
    val buckets = graft.engine.Views.pinned(documents, "winnowFpBuckets") { docs =>
      // max_id rides the existing 1-row stats anchor to enforce the
      // packed-key precondition in-plan (see the packing note below)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_id"))
      winnowArrays(docs)
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .groupBy(col("fp"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .crossJoin(broadcast(nDocs))
        .filter(size(col("ds")).cast("long") <= col("n_docs") * 0.05)
        .filter(expr(
          "ifnull(assert_true(max_id >= 0 AND max_id < 2147483648L, " +
            "'winnowCopyPairs packs doc pairs as doc_a*2^32+doc_b in a SIGNED long: doc_id must fit in 31 bits'), true)"))
        .select(col("ds"))
    }
    // Per-doc fingerprint counts (|docs| rows) join onto the AGGREGATED
    // pair table — two broadcastable joins after the heavy lifting, not
    // two extra longs on every posting row.
    val nFp = winnowArrays(documents)
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"))
    // Pairs travel as ONE packed primitive long (doc_a·2³² + doc_b, a<b
    // by construction from the sorted array): the lambda emits a
    // primitive-long array instead of millions of struct rows, and the
    // pair aggregate hashes a single long key. Valid while doc ids fit
    // 31 bits — a HARD precondition: the pack is a SIGNED long and the
    // unpack below uses truncating div / sign-following mod, so a doc_a
    // in [2³¹, 2³²) would wrap pk negative and silently mis-unpack
    // (doc_a ≤ 2³¹−1 keeps max pk ≤ Long.MaxValue exactly). Enforced
    // in-plan by the assert_true guard on max(doc_id) in the bucket
    // build above; a larger id space fails loudly there and must switch
    // to a two-column struct key (not implemented —
    // corpus-snapshot-scoped ids fit). The aggregated
    // shared-fingerprint matrix is PINNED (parameter-free — `minShared`
    // only thresholds it at read time): it is the pairwise-overlap view
    // a plagiarism service materializes per corpus snapshot, and the
    // Σ C(df,2) pair expansion is by far this operator's dominant cost.
    // r10 A/B (BASELINE.md): demoting this + winnowFpBuckets costs
    // q_copy_detect +1.57 s best-of-2, ~0 board relief — residency wins.
    Views.pinned(buckets, "winnowPairCounts")(
      _.select(explode(expr(
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), y -> x * 4294967296L + y)))"))
        .as("pk"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("n_shared"))
        .select(
          expr("pk div 4294967296L").as("doc_a"),
          expr("pk % 4294967296L").as("doc_b"),
          col("n_shared")))
      .filter(col("n_shared") >= minShared)
      // NO broadcast hint: nFp is one row PER DOCUMENT — a corpus-sized
      // relation, not a bounded dimension — so forcing it driver-wide
      // would OOM long before the (small, filtered) pair table does;
      // the planner broadcasts it anyway when it measures small
      .join(nFp.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), Seq("doc_a"))
      .join(nFp.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"), col("n_shared"),
        expr("CAST(n_shared AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)").as("overlap"))
  }

  /** Document fingerprint: md5 of the case-normalized text (first 16 hex
    * chars — 64 bits). Used as the exact-dedup key; a rolling-hash
    * shingle fingerprint is the MinHash path in [[graft.text.Dedup]].
    */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      substring(md5(lower(col("text")).cast("binary")), 1, 16).as("fp64"))

  /** Top-`k` collocations by PMI ratio (log-free): for each adjacent
    * token bigram, `p(ab) / (p(a)·p(b))` with unigram/bigram
    * probabilities over the whole corpus. Three map-combined counts
    * (bigram, unigram, and their totals) and two vocabulary-sized
    * equi-joins — nothing corpus-sized ever joins; the final top-k is a
    * distributed orderBy+limit. The score skips `ln` deliberately: the
    * ratio is a fixed tree of correctly-rounded IEEE ops (engine-exact),
    * `ln` is not, and `ln` is monotone so the ranking is identical.
    */
  def bigramPmi(documents: DataFrame, k: Int): DataFrame = {
    val toksDf = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    // size >= 2 guard: on a 1-token doc, sequence(1, size-1) = sequence(1, 0)
    // counts DOWN ([1, 0]) and element_at(t, 0) / element_at(t, 2) throw
    // under ANSI — single-token docs simply contribute no bigrams
    val bigrams = toksDf
      .filter(size(col("t")) >= 2)
      .select(explode(adjacentPairs(col("t"))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val unigrams = toksDf.select(explode(col("t")).as("w"))
    // One tokenizing pass per n-gram order; the corpus totals come from
    // the vocabulary-sized count tables (cached — they feed both the
    // totals and the join), never a second scan of the corpus. The totals
    // ride in as a broadcast one-row aggregate (the tfidfTopTerms
    // convention), not driver-side head() calls at plan-build time; an
    // empty count table gives an empty join, as the oracle's empty top-k.
    val biCounts = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab")).cacheT()
    val uniCounts = unigrams.groupBy(col("w")).agg(count(lit(1)).as("n_w")).cacheT()
    val totals = biCounts.agg(sum(col("n_ab")).as("n_bi"))
      .crossJoin(uniCounts.agg(sum(col("n_w")).as("n_uni")))
    val scoreSql =
      "(CAST(n_ab AS DOUBLE) / CAST(n_bi AS DOUBLE)) / " +
        "((CAST(n_a AS DOUBLE) / CAST(n_uni AS DOUBLE)) * (CAST(n_b AS DOUBLE) / CAST(n_uni AS DOUBLE)))"
    graft.engine.Relational.rankedTopK(
      biCounts
        .crossJoin(broadcast(totals))
        .join(uniCounts.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
        .join(uniCounts.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
        .withColumn("pmi_ratio", expr(scoreSql)),
      k, col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
      .select(col("rank"), col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"), col("pmi_ratio"))
  }

  /** Per-document top-`k` TF-IDF terms. Pipeline: (doc, token) counts →
    * document frequency per token (one count over the term-doc table,
    * which already has one row per (doc, token)) → score → per-doc top-k.
    * Both aggregations combine map-side, the df join is a token-key
    * equi-join over vocabulary-sized data, and the final top-k is a
    * partitioned `row_number() <= k` (WindowGroupLimit prunes per
    * partition before the shuffle).
    *
    * Score = tf · (N / df) — the multiplicative idf without the log: a
    * division and a multiplication over exact integers are single
    * correctly-rounded IEEE ops, bit-identical in any engine, whereas
    * `ln` is not correctly rounded and may differ between libm and the
    * JVM in the last ulp. Monotone in the usual tf·idf for fixed tf, and
    * fully order-determined with the (score desc, token asc) tie-break.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int): DataFrame = {
    // corpus total as a broadcast 1-row aggregate, not documents.count():
    // the driver action ran a full corpus scan EAGERLY at plan-build
    // time (every plan audit / dry-run paid it) and baked a per-corpus
    // literal into the plan text — the boilerplateStats convention
    val n = documents.agg(count(lit(1)).cast("double").as("n_docs"))
    val td = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = td.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = td.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn(
        "score",
        col("tf").cast("double") * (col("n_docs") / col("df").cast("double")))
      .drop("n_docs")
    Relational.topKPerGroup(scored, k, Seq(col("doc_id")), col("score").desc, col("token").asc)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** Array-function battery over the token array — the lambda/array
    * surface (sort, distinct, slice, element access, contains, position,
    * transform+aggregate fold) exercised end to end and scalar-ized for
    * the oracle. All per-row map-side work on codegen'd builtins.
    */
  def arrayFuncs(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .withColumn("toks", toks)
      .withColumn("sorted_uniq", array_sort(array_distinct(col("toks"))))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(col("sorted_uniq")).cast("long").as("n_uniq"),
        // try_: NULL for a <3-token doc, like the oracle's toks[3] —
        // plain element_at throws out-of-bounds under ANSI
        try_element_at(col("toks"), lit(3)).as("tok3"),
        array_join(slice(col("sorted_uniq"), 1, 5), " ").as("first5_uniq"),
        element_at(col("sorted_uniq"), -1).as("max_tok"),
        array_contains(col("toks"), "the").as("has_the"),
        array_position(col("toks"), "data").cast("long").as("pos_data"),
        aggregate(transform(col("toks"), t => length(t).cast("long")), lit(0L), _ + _)
          .as("sum_tok_len"))
  }

  /** Corpus-wide term frequency, top `topN` tokens. The groupBy combines
    * map-side, so only (token, partial-count) pairs — vocabulary-sized,
    * not corpus-sized — reach the shuffle; the global top-k is
    * [[graft.engine.Relational.rankedTopK]] (TakeOrderedAndProject, rank
    * over the survivors only).
    */
  def termFrequency(documents: DataFrame, topN: Int): DataFrame =
    graft.engine.Relational.rankedTopK(
      documents
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n")),
      topN, col("n").desc, col("token").asc)
      .select(col("rank"), col("token"), col("n"))

  /** First BPE-training iteration: the top-`k` adjacent character-pair
    * merge candidates over the word vocabulary, weighted by word
    * frequency — the inner loop of byte-pair-encoding vocabulary
    * induction (each training step merges the most frequent pair; this
    * reports the ranked frontier plus how many distinct word types carry
    * each pair). The corpus-scale work is ONE token count; pair
    * explosion runs over the VOCABULARY (distinct words), not the
    * corpus, so a 100 TB corpus pays |vocab|·avg_len pair rows, and the
    * top-k is a TakeOrdered. Exact integer counts throughout.
    */
  def bpeMergeCandidates(documents: DataFrame, k: Int): DataFrame = {
    val words = documents
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      .filter(length(col("w")) >= 2)
    graft.engine.Relational.rankedTopK(
      words
        .select(
          col("w"),
          col("n_w"),
          explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("n_w")).as("n_occ"), countDistinct(col("w")).as("n_types")),
      k, col("n_occ").desc, col("pair").asc)
      .select(col("rank"), col("pair"), col("n_occ"), col("n_types"))
  }

  /** Sequence packing — the LLM-training prep step that fills fixed
    * `contextTokens`-sized windows with consecutive documents: contiguous
    * fill in doc_id order, a document's pack = ⌊tokens-before-it / C⌋
    * (docs may straddle a boundary, as real packers allow with cross-doc
    * attention masking). The per-source prefix sum is the blocked
    * two-level shape — never an unpartitioned global cumsum, and no
    * per-source window ever accumulates more than one 2²⁰-id block in a
    * task; packs are globally unique as (source, pack_id). Output: one
    * row per pack with its doc range and fill level.
    */
  def packSequences(documents: DataFrame, contextTokens: Int): DataFrame = {
    // per-source tokens-before-this-doc: the exclusive blocked prefix sum,
    // so no per-source window accumulates more than one 2²⁰-id block in a
    // task (a straight per-source window would hold corpus/|sources| rows).
    // A NULL text (NULL n_tokens) counts as 0 tokens.
    val nTokens = coalesce(col("n_tokens"), lit(0L))
    graft.engine.Relational
      .blockedRunningSum(
        documents.select(
          col("source"), col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens")),
        Seq("source"), "doc_id", nTokens, "_cum")
      .withColumn("cum_before", col("_cum") - nTokens)
      .withColumn("pack_id", expr(s"cum_before div $contextTokens"))
      .groupBy(col("source"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Within-document repetition stats — the Gopher-style "repetitious
    * text" quality signal: total vs distinct word 3-grams, the duplicate
    * fraction, and the highest single-gram multiplicity. Everything is
    * computed per row from one token array (map-side, no shuffle): the
    * max multiplicity is an in-row array fold over the distinct grams
    * instead of exploding the corpus into a (doc, gram) table — at
    * 100 TB this keeps the repetition filter a pure scan stage. The
    * ratio is a single integer-ratio IEEE division (engine-portable).
    */
  def repetitionStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("grams", Dedup.shinglesFromToks(col("toks"), 3))
      .withColumn("uniq", array_distinct(col("grams")))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(col("uniq")).cast("long").as("n_distinct"),
        ((size(col("grams")) - size(col("uniq"))).cast("double") /
          size(col("grams")).cast("double")).as("dup_ratio"),
        array_max(transform(col("uniq"), g => size(filter(col("grams"), x => x === g))))
          .cast("long")
          .as("max_gram_freq"))

  /** Length-filter sweep: document and token counts surviving each
    * canonical minimum-token cutoff, as conditional sums in ONE corpus
    * pass — not one filter job per threshold. This is the table a
    * curation run consults to set its length filter BEFORE running it
    * over 100 TB (each candidate threshold shows exactly how many
    * documents and training tokens it would cost).
    */
  def lengthFilterSweep(
      documents: DataFrame,
      thresholds: Seq[Int] = Seq(10, 25, 50, 100, 200)): DataFrame = {
    val t = documents.select(size(tokens(col("text"))).cast("long").as("t"))
    val aggs =
      Seq(count(lit(1)).as("n_docs"), sum(col("t")).as("tokens_total")) ++
        thresholds.flatMap(th => Seq(
          sum(when(col("t") >= th, 1L).otherwise(0L)).as(s"docs_ge_$th"),
          sum(when(col("t") >= th, col("t")).otherwise(0L)).as(s"toks_ge_$th")))
    t.agg(aggs.head, aggs.tail: _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the document
    * LENGTH distributions of two sources, with the supremum computed in
    * INTEGER arithmetic: D = max |F_a − F_b| = max |ca·nb − cb·na| /
    * (na·nb), where the cumulative counts run over the merged value
    * grid. The corpus collapses to (source, length) → count first; the
    * cumulative window and the max run over the grid (bounded by the
    * length domain), and the single division at the end is exact in
    * binary64 (counts ≪ 2²⁶ each, so the cross-products stay < 2⁵³).
    */
  def ksTest(documents: DataFrame, srcA: String, srcB: String): DataFrame = {
    val grid = documents
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), col("n_chars").as("x"))
      .groupBy(col("x"))
      .agg(
        sum(when(col("source") === srcA, 1L).otherwise(0L)).as("a"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = grid.select(col("x"), sum(col("a")).over(w).as("ca"), sum(col("b")).over(w).as("cb"))
    val totals = grid.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    cum
      .crossJoin(broadcast(totals))
      .select(col("na"), col("nb"), abs(col("ca") * col("nb") - col("cb") * col("na")).as("diff"))
      .groupBy(col("na"), col("nb"))
      .agg(max(col("diff")).as("d_num"))
      .select(
        col("na"), col("nb"), col("d_num"),
        expr("CAST(d_num AS DOUBLE) / nullif(CAST(na * nb AS DOUBLE), 0.0E0)").as("d_stat"))
  }

  /** Exact 1-D earth mover's (Wasserstein-1) distance between the
    * document LENGTH distributions of two sources — the integral
    * companion to [[ksTest]]'s supremum: W₁ = ∫|F_a − F_b| dx =
    * Σ_grid |ca·nb − cb·na|·gap / (na·nb), where `gap` is the distance
    * to the next occupied grid value. The whole sum is BIGINT-exact
    * (same cross-product trick as the KS statistic); one division at
    * the end. Grid size is bounded by the length domain.
    */
  def emd(documents: DataFrame, srcA: String, srcB: String): DataFrame = {
    val grid = documents
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), col("n_chars").as("x"))
      .groupBy(col("x"))
      .agg(
        sum(when(col("source") === srcA, 1L).otherwise(0L)).as("a"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("b"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1)).orderBy(col("x"))
    val cum = grid.select(
      col("x"),
      sum(col("a")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)).as("ca"),
      sum(col("b")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)).as("cb"),
      (lead(col("x"), 1).over(w) - col("x")).as("gap"))
    val totals = grid.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    cum
      .filter(col("gap").isNotNull)
      .crossJoin(broadcast(totals))
      .agg(
        max(col("na")).as("na"),
        max(col("nb")).as("nb"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na")) * col("gap")).as("w1_num"))
      .select(
        col("na"), col("nb"), col("w1_num"),
        expr("CAST(w1_num AS DOUBLE) / nullif(CAST(na * nb AS DOUBLE), 0.0E0)").as("emd"))
  }

  /** BM25 top-documents per term for the `numTerms` highest-df corpus
    * terms, in the log-free odds form: idf_odds = (N − df + ½)/(df + ½)
    * (the exp of Robertson idf — same ranking, no `ln`, which is the
    * one float primitive that is NOT correctly-rounded-identical across
    * engines), tf saturation with k1=1.2, b=0.75. tf/df/dl/avgdl
    * accumulate BIGINT-exact map-side; the score is one fixed double
    * expression shared with the oracle, ranked under a per-term window
    * with doc tie-break.
    */
  def bm25TopDocs(documents: DataFrame, numTerms: Int = 3, topN: Int = 5): DataFrame = {
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tfreq"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val terms = graft.engine.Relational
      .rankedTopK(df, numTerms, col("df").desc, col("tok").asc)
      .select(col("tok"), col("df"))
    val scored = tf
      .join(broadcast(terms), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(
        col("tok"), col("doc_id"),
        expr("""(CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) *
                (CAST(tfreq AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0) /
                 (CAST(tfreq AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                  (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) /
                   (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""").as("score"))
    Relational.topKPerGroup(scored, topN, Seq(col("tok")), col("score").desc, col("doc_id").asc)
      .select(col("tok").as("term"), col("rank"), col("doc_id"), col("score"))
  }

  /** Pairwise source-vocabulary overlap — the corpus-mix similarity
    * report: per-source distinct token sets (vocabulary-bounded after
    * the distinct), shared-token counts via a token-key self-join, and
    * exact-integer Jaccard |A∩B| / (|A|+|B|−|A∩B|). The token join's
    * fan-out is bounded by how many sources share a token (≤ |sources|),
    * never by corpus size.
    */
  def vocabOverlap(documents: DataFrame): DataFrame = {
    val st = documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_vocab"))
    st.as("a")
      .join(st.as("b"), col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_vocab").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_vocab").as("n_b"))), Seq("source_b"))
      .select(
        col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        expr("CAST(n_shared AS DOUBLE) / CAST(n_a + n_b - n_shared AS DOUBLE)").as("jaccard"))
  }

  /** Confusion matrix of the language identifier against the corpus's
    * true labels — the evaluation pass that closes the loop on
    * [[languageId]]: one join on doc_id, one (true, pred) count. Output
    * is |langs|²-bounded.
    */
  def langConfusion(documents: DataFrame): DataFrame =
    languageId(documents)
      .join(documents.select(col("doc_id"), col("lang").as("true_lang")), Seq("doc_id"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** Cohen's kappa of the stopword-vote language identifier against the
    * labelled `lang` — chance-corrected agreement, the label-quality
    * number a curation pipeline reports instead of raw accuracy (raw
    * agreement is inflated by the majority class; kappa subtracts the
    * agreement two independent raters with these marginals would reach
    * by luck). One corpus-scale confusion aggregate (map-combined);
    * everything after runs over the ≤|langs|² matrix. Exact integer
    * sums; po/pe/kappa are single IEEE divisions at the output.
    */
  def langIdKappa(documents: DataFrame): DataFrame = {
    val conf = langConfusion(documents)
    val rowS = conf.groupBy(col("true_lang").as("lbl")).agg(sum(col("n")).as("row_n"))
    val colS = conf.groupBy(col("pred_lang").as("lbl")).agg(sum(col("n")).as("col_n"))
    // labels missing from one marginal contribute a zero product — inner
    // join drops them. DECIMAL(38,0) (oracle: HUGEINT): the marginal
    // product reaches n², past BIGINT at ~3e9 docs
    val chance = rowS.join(colS, Seq("lbl"))
      .agg(sum(expr("CAST(row_n AS DECIMAL(38,0)) * col_n")).as("chance"))
    val tot = conf.agg(
      sum(col("n")).as("n_docs"),
      sum(when(col("true_lang") === col("pred_lang"), col("n")).otherwise(0L)).as("n_agree"))
    tot.crossJoin(chance).select(
      col("n_docs"), col("n_agree"),
      expr("CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("po"),
      expr("CAST(chance AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))").as("pe"),
      // pe = 1 (single-language corpus whose predictions are also all
      // that language) is the textbook kappa degenerate: the denominator
      // n² − chance is exactly 0 — NULL via the lazy integer CASE
      // (Spark ANSI throws on 0/0 where DuckDB yields NaN)
      expr("""CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * n_docs = chance THEN NULL
              ELSE (CAST(n_docs AS DOUBLE) * CAST(n_agree AS DOUBLE) - CAST(chance AS DOUBLE)) /
              (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - CAST(chance AS DOUBLE))
              END""")
        .as("kappa"))
  }

  /** Per-source unigram token entropy and KL divergence vs the corpus
    * distribution — the distributional fingerprint that flags template/
    * boilerplate farms (low entropy) and off-distribution sources (high
    * KL) before they skew a training mix. Float logs never cross a
    * shuffle: each (source, token) term is quantized to INTEGER
    * micronats (`round(1e6·n·ln…)` — half-away-from-zero on both
    * engines), so the per-source sums are exact integer arithmetic and
    * cross-engine deterministic regardless of summation order; the only
    * shared floats are per-term `ln` of integer counts and two scalar
    * `ln`s at the output. Plan: token explode → (source, token) counts
    * (map-combined) → equi-join on token against the corpus counts
    * (vocab-scale key, never broadcast) → per-source aggregate.
    *
    *   H_s  = ln(N_s) − Σ_w round(1e6·n_sw·ln(n_sw)) / (1e6·N_s)
    *   KL_s = Σ_w round(1e6·n_sw·(ln(n_sw)−ln(n_w))) / (1e6·N_s)
    *          + ln(N) − ln(N_s)
    */
  def sourceEntropy(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("source"), explode(tokens(col("text"))).as("w"))
    val sw = toks.groupBy(col("source"), col("w")).agg(count(lit(1)).as("n_sw"))
    val cw = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val joined = sw.join(cw, Seq("w"))
    val perSource = joined
      .groupBy(col("source"))
      .agg(
        sum(col("n_sw")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(expr("CAST(round(n_sw * ln(n_sw) * 1000000) AS BIGINT)")).as("ent_micro"),
        sum(expr("CAST(round(n_sw * (ln(n_sw) - ln(n_w)) * 1000000) AS BIGINT)"))
          .as("kl_micro"))
    val total = perSource.agg(sum(col("n_tokens")).as("n_total"))
    perSource.crossJoin(broadcast(total)).select(
      col("source"), col("n_tokens"), col("vocab"),
      expr("ln(CAST(n_tokens AS DOUBLE)) - CAST(ent_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE))")
        .as("entropy"),
      expr("""CAST(kl_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE))
              + ln(CAST(n_total AS DOUBLE)) - ln(CAST(n_tokens AS DOUBLE))""")
        .as("kl_vs_corpus"))
  }

  /** Per-document mean unigram surprisal against the corpus's own
    * unigram model — the CCNet-style quality/outlier score a curation
    * pipeline thresholds (low = boilerplate-ish/common, high = noise or
    * off-distribution): mean over the doc's token occurrences of
    * −ln p(w), p(w) = n_w / n_total. Per-occurrence micronats
    * (round(ln n_w · 10⁶) summed as BIGINT) keep the cross-row sum
    * order-free and engine-exact, with a single ln(n_total) shift at
    * the end — the same discipline as [[sourceEntropy]]. Shape: one
    * postings explode, a vocabulary-bounded count (cached: it feeds the
    * occurrence join AND the corpus total), one token-keyed join, one
    * per-doc sum — two postings shuffles, nothing corpus² anywhere.
    */
  def docSurprisal(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val cw = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w")).cacheT()
    val total = cw.agg(sum(col("n_w")).as("n_total"))
    toks
      .join(cw, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(expr("CAST(round(ln(n_w) * 1000000) AS BIGINT)")).as("lp_micro"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"), col("n_tokens"),
        expr("""ln(CAST(n_total AS DOUBLE))
                - CAST(lp_micro AS DOUBLE) / (1000000.0 * CAST(n_tokens AS DOUBLE))""")
          .as("surprisal"))
  }

  /** Cross-source exact-duplicate matrix: for every unordered source
    * pair, how many distinct texts BOTH sources carry — the provenance
    * report that tells a curation team which sources mirror each other
    * (and thus which "independent" corpora double-count). Distinct
    * (md5, source) first (map-combined), then an equi-join ON THE HASH —
    * group sizes are bounded by |sources|, so the join never degenerates
    * even when one text is in every source. The |sources|² zero-filled
    * frame comes from a broadcast nested-loop pair expansion over the
    * bounded source dimension. Jaccard is one division over exact
    * integer counts.
    */
  def crossSourceDupMatrix(documents: DataFrame): DataFrame = {
    val g = documents
      .select(md5(col("text").cast("binary")).as("h"), col("source"))
      .distinct()
    val uniq = g.groupBy(col("source")).agg(count(lit(1)).as("n_uniq"))
    val shared = g.as("a")
      .join(g.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = uniq.select(col("source").as("source_a"), col("n_uniq").as("uniq_a"))
      .join(
        uniq.select(col("source").as("source_b"), col("n_uniq").as("uniq_b")),
        col("source_a") < col("source_b"))
    pairs
      .join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(
        col("source_a"), col("source_b"), col("n_shared"), col("uniq_a"), col("uniq_b"),
        expr("CAST(n_shared AS DOUBLE) / CAST(uniq_a + uniq_b - n_shared AS DOUBLE)")
          .as("jaccard"))
  }

  /** Per-source corpus report — the curation dashboard aggregate: doc
    * and token tallies, length extremes, and exact-duplicate mass
    * (docs − distinct text hashes) in one grouped pass. distinct-md5
    * partial-aggregates per partition; everything else combines
    * map-side.
    */
  def sourceStats(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
        countDistinct(md5(col("text"))).as("n_uniq_texts"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"))

  /** Hashing-trick featurization (bag-of-hashed-words): every token maps
    * to one of `buckets` feature slots by md5 hash — the fixed-width
    * sparse featurizer that needs NO vocabulary pass, broadcast, or
    * fitting state, so it runs map-side at any corpus size. Output is
    * the exploded sparse form (doc, bucket, count); the groupBy combines
    * map-side within each document's partition.
    */
  def featureHash(documents: DataFrame, buckets: Int = 256): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(
        col("doc_id"),
        expr(s"${Stages.md5BitsSql("tok", "1", 8)} % $buckets").as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Bigram language-model estimation: P(w2 | w1) = c(w1 w2) / c(w1 ·)
    * as ONE exact integer ratio (both counts < 2⁵³ reach binary64
    * exactly; the division is a single correctly-rounded IEEE op — the
    * same no-log discipline as TF-IDF/PMI). The prefix total is the sum
    * of the bigram counts themselves (one aggregation over the
    * vocabulary-sized count table, not a second corpus scan). `minCount`
    * keeps one-off continuations from flooding the top ranks with
    * probability-1.0 noise.
    */
  def bigramLm(documents: DataFrame, k: Int, minCount: Long = 5L): DataFrame = {
    val toksDf = documents.select(col("doc_id"), tokens(col("text")).as("t"))
    val bigrams = toksDf
      .filter(size(col("t")) >= 2)
      .select(explode(adjacentPairs(col("t"))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val biCounts = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val prefix = biCounts.groupBy(col("w1")).agg(sum(col("n_ab")).as("n_a"))
    graft.engine.Relational.rankedTopK(
      biCounts
        .join(prefix, "w1")
        .filter(col("n_ab") >= minCount)
        .withColumn("p_cond", expr("CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)")),
      k, col("p_cond").desc, col("w1").asc, col("w2").asc)
      .select(col("rank"), col("w1"), col("w2"), col("n_ab"), col("n_a"), col("p_cond"))
  }

  /** DSIR-style importance weights (hashed-n-gram importance resampling,
    * Xie et al. 2023): score every document by how much its hashed
    * unigram distribution looks like a TARGET slice (here `lang =
    * targetLang`) relative to the raw corpus, λ_b = ln p̂_target(b) −
    * ln p̂_raw(b) over `buckets` hashed feature slots with add-1
    * smoothing, per-doc weight = Σ_tokens λ_bucket(token). The bucket
    * table is |buckets|-bounded (broadcast); per-bucket λ is quantized
    * to INTEGER micronats before any corpus-scale sum (the
    * [[sourceEntropy]] discipline — no float crosses a shuffle), so
    * doc weights are exact integers. Report is |langs|-bounded: docs,
    * positive-weight share (the resampling acceptance mass), and mean
    * nats/token — target-language rows should surface positive, which
    * is the sanity check on the featurizer itself.
    */
  def dsirWeights(documents: DataFrame, targetLang: String = "en", buckets: Int = 256): DataFrame = {
    val bucketed = documents
      .select(col("doc_id"), col("lang"), explode(tokens(lower(col("text")))).as("tok"))
      .select(
        col("doc_id"), col("lang"),
        expr(s"${Stages.md5BitsSql("tok", "1", 8)} % $buckets").as("b"))
    val counts = bucketed
      .groupBy(col("b"))
      .agg(
        count(lit(1)).as("n_all"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("n_tgt"))
    val tot = counts.agg(sum(col("n_all")).as("t_all"), sum(col("n_tgt")).as("t_tgt"))
    val lam = counts
      .crossJoin(broadcast(tot))
      .select(
        col("b"),
        expr(s"""CAST(round((ln(CAST(n_tgt + 1 AS DOUBLE)) - ln(CAST(t_tgt + $buckets AS DOUBLE))
                           - ln(CAST(n_all + 1 AS DOUBLE)) + ln(CAST(t_all + $buckets AS DOUBLE)))
                           * 1000000) AS BIGINT)""").as("lam_micro"))
    bucketed
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tok"), sum(col("c") * col("lam_micro")).as("w_micro"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("w_micro") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(col("w_micro")).as("sum_micro"),
        sum(col("n_tok")).as("sum_tok"))
      .select(
        col("lang"), col("n_docs"), col("n_pos"),
        expr("CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("pos_frac"),
        expr("CAST(sum_micro AS DOUBLE) / (1000000.0 * CAST(sum_tok AS DOUBLE))")
          .as("mean_nats_per_tok"))
  }

  /** Per-document cross-entropy under the corpus add-1 bigram LM — the
    * CCNet/perplexity-bucket quality signal without an external model:
    * cost(w1 w2) = −ln((c(w1,w2)+1)/(c(w1,·)+V)) quantized to INTEGER
    * micronats per bigram TYPE (vocab²-bounded table), each document
    * sums cost over its bigram tokens in exact integer arithmetic, and
    * reports nats/bigram from one output division. High values =
    * improbable word transitions (gibberish, boilerplate soup); the
    * standard curation split buckets docs by this number. Plan: corpus
    * bigram counts (map-combined) → per-doc bigram multiset joins the
    * cost table on the (w1,w2) key — vocab-scale equi-join, broadcast
    * scalar V, no corpus self-join anywhere.
    */
  def docPpl(documents: DataFrame): DataFrame = {
    val toksDf = documents
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bigrams = toksDf
      .select(col("doc_id"), explode(adjacentPairs(col("t"))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val biCounts = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
    val prefix = biCounts.groupBy(col("w1")).agg(sum(col("n_ab")).as("n_a"))
    val vocab = documents
      .select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val costs = biCounts
      .join(prefix, "w1")
      .crossJoin(broadcast(vocab))
      .select(
        col("w1"), col("w2"),
        expr("""CAST(round((ln(CAST(n_a + v AS DOUBLE)) - ln(CAST(n_ab + 1 AS DOUBLE)))
                          * 1000000) AS BIGINT)""").as("cost_micro"))
    bigrams
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .join(costs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), sum(col("c") * col("cost_micro")).as("cost_sum"))
      .select(
        col("doc_id"), col("n_bigrams"),
        expr("CAST(cost_sum AS DOUBLE) / (1000000.0 * CAST(n_bigrams AS DOUBLE))")
          .as("nats_per_bigram"))
  }

  /** Fixed-size overlapping chunking — the context-window splitter of an
    * LLM ingest pipeline: windows of `size` chars every `stride` chars
    * (overlap = size − stride), chunk count derived in INTEGER arithmetic
    * (`(max(len−size,0)+stride−1) div stride` extra chunks, always ≥1
    * total). The chunk array is built and exploded in ONE inline
    * expression (a pre-materialized array column would leave whole-stage
    * codegen — the round-3 explode lesson), so chunking stays a pure
    * map-side Generate at any corpus size. Chunks leave as md5 + length,
    * not text, to keep the verified surface narrow.
    */
  def chunkOverlap(documents: DataFrame, size: Int = 200, stride: Int = 150): DataFrame =
    documents
      .selectExpr(
        "doc_id",
        s"""posexplode(transform(
              sequence(0L, CAST((greatest(length(text) - $size, 0) + ${stride - 1}) div $stride AS LONG)),
              i -> substring(text, CAST(i * $stride + 1 AS INT), $size))) AS (chunk_id, chunk)""")
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        length(col("chunk")).cast("long").as("chunk_chars"),
        md5(col("chunk")).as("chunk_md5"))

  /** Character-diversity quality proxy WITHOUT logarithms: the collision
    * (Gini–Simpson) statistic over letter frequencies. Shannon entropy
    * needs `ln`, which is not correctly rounded the same way across
    * engines; the collision sum Σc·(c−1) over n·(n−1) ranks documents
    * the same way (low diversity = high collision mass) in exact integer
    * arithmetic, with ONE IEEE division at the end. Letter counts are 26
    * static `length − length(replace(…))` expressions — a pure codegen'd
    * scan, no explode of the corpus into characters.
    */
  def charDiversity(documents: DataFrame): DataFrame = {
    val letters = ('a' to 'z').toSeq
    val counted = documents.select(
      col("doc_id") +: letters.map(ch =>
        expr(s"CAST(length(text) - length(replace(text, '$ch', '')) AS BIGINT)").as(s"n_$ch")): _*)
    val total = letters.map(ch => col(s"n_$ch")).reduce(_ + _)
    val collisions = letters.map(ch => col(s"n_$ch") * (col(s"n_$ch") - 1)).reduce(_ + _)
    counted.select(
      col("doc_id"),
      total.as("n_letters"),
      collisions.as("collisions"),
      // NULL below two letters (the collision rate needs a pair to draw)
      // — Spark ANSI throws DIVIDE_BY_ZERO on the unguarded 0/0 where
      // DuckDB yields NaN, so the guard is also what keeps the engines
      // aligned (the simpsonDiversity convention); numeric-only or
      // non-Latin-script documents hit this for real
      when(total >= 2,
        collisions.cast("double") / (total * (total - 1)).cast("double"))
        .as("collision_rate"))
  }

  /** PII redaction pass — the scrub step every training-data pipeline
    * runs before release: count and replace e-mail and phone patterns,
    * emit the cleaned text's md5 + length (compact, hash-comparable
    * proof of the exact output bytes). The fixtures carry no natural
    * PII, so deterministic synthetic PII is appended IN-PLAN on
    * `doc_id % 7 / % 11` rows (same construction in the oracle) —
    * making the redaction path observable, like the synthesized nulls
    * in the null battery. Regexes restrict to constructs whose
    * semantics agree between Java regex and RE2.
    * Pure per-row map: no shuffle at any scale.
    */
  def piiScrub(documents: DataFrame): DataFrame = {
    val email = "[a-z0-9]+@[a-z0-9.]+"
    val phone = "\\b555-[0-9]{4}\\b"
    documents
      .withColumn(
        "aug",
        expr("""concat(text,
             CASE WHEN doc_id % 7 = 0
                  THEN concat(' contact u', CAST(doc_id AS STRING), '@example.com') ELSE '' END,
             CASE WHEN doc_id % 11 = 0
                  THEN concat(' call 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END)"""))
      .withColumn(
        "clean",
        regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"), phone, "<PHONE>"))
      .select(
        col("doc_id"),
        regexp_count(col("aug"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(phone)).cast("long").as("n_phones"),
        md5(col("clean").cast("binary")).as("clean_md5"),
        length(col("clean")).cast("long").as("clean_len"))
  }

  /** Boilerplate-span statistics — the CCNet/RefinedWeb-style pass that
    * measures how much of each document is corpus-common: token bigram
    * spans whose document frequency reaches `minFrac` of the corpus are
    * "boilerplate", and each document reports its span total, its
    * boilerplate-span count, and the ratio. The common-span set is
    * |vocab|²-bounded (broadcast-sized in practice); the corpus-side
    * work is one distinct + one grouped count on (gram) and one grouped
    * count on (doc) — every shuffle keyed, ratios a single exact IEEE
    * division. The corpus size feeds in via a 1-row aggregate
    * cross-join, never a driver action.
    */
  def boilerplateStats(documents: DataFrame, minFrac: Double = 0.05): DataFrame = {
    val spans = documents
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(Dedup.shinglesFromToks(col("toks"), 2)).as("gram"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val common = spans
      .select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .filter(col("df") >= col("n_docs") * minFrac)
      .select(col("gram"), lit(1).as("is_common"))
    spans
      .join(common, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(coalesce(col("is_common"), lit(0))).cast("long").as("n_boiler"))
      .select(
        col("doc_id"), col("n_spans"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_spans").cast("double")).as("boiler_ratio"))
  }

  /** Per-source exact-duplication report: documents, distinct texts
    * (md5 keys — 64-bit-safe at corpus scale), and the duplicate-row
    * ratio — the curation metric that decides which sources need the
    * expensive near-dup pass. Two map-combined aggregates; ratios are
    * single exact divisions.
    */
  def sourceDupRates(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("source"), md5(col("text").cast("binary")).as("text_md5"))
      .agg(count(lit(1)).as("copies"))
      .groupBy(col("source"))
      .agg(
        sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("copies") - 1).as("n_dup_rows"))
      .select(
        col("source"), col("n_docs"), col("n_unique"), col("n_dup_rows"),
        expr("CAST(n_dup_rows AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("dup_ratio"))

  /** Per-source sampling weights that rebalance the corpus to a uniform
    * token share — the mixture-weighting step before training-data
    * sampling: weight_s = total / (n_sources · tokens_s), so expected
    * post-sampling tokens are equal across sources. Integer token sums
    * feed one fixed IEEE division chain (engine-exact); the corpus
    * totals arrive via a 1-row aggregate cross-join, never a driver
    * action. Output is |sources|-sized.
    */
  def sourceMixWeights(documents: DataFrame): DataFrame = {
    val perSource = documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource
      .crossJoin(totals)
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)").as("share"),
        expr("""CAST(total_tokens AS DOUBLE)
                / (CAST(n_sources AS DOUBLE) * CAST(n_tokens AS DOUBLE))""").as("weight"))
  }

  /** Per-source token concentration (Herfindahl–Hirschman index):
    * HHI = Σ(share²) over the source's token distribution, computed as
    * sum(cnt²)/total² from EXACT integer sums — one double division at
    * the end, bit-identical on any engine, where the naive Σ(p²) of
    * per-token double shares would be partition-order nondeterministic.
    * Two map-combined aggregations, output |sources|-sized.
    */
  def sourceHhi(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("cnt")).as("ssq"))
      .select(
        col("source"), col("n_distinct"), col("n_tokens"),
        expr("CAST(ssq AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))")
          .as("hhi"))

  /** Per-source Simpson diversity 1 − Σnᵢ(nᵢ−1)/(N(N−1)) — the
    * probability two tokens drawn without replacement differ. Unlike
    * Shannon entropy (whose `ln` is not cross-engine bit-exact) the
    * index is pure integer sums with ONE final division, so the oracle
    * matches bitwise. Same two map-combined aggregations as [[sourceHhi]].
    */
  def simpsonDiversity(documents: DataFrame): DataFrame =
    documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * (col("cnt") - 1)).as("snn1"))
      .select(
        col("source"), col("n_types"), col("n_tokens"),
        expr("""CASE WHEN n_tokens < 2 THEN NULL
                ELSE 1 - CAST(snn1 AS DOUBLE)
                         / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)) END""")
          .as("simpson"))

  /** Curation filter funnel — the yield report for a stacked quality
    * gate: how many documents survive each successive rule (length,
    * token count, lexical diversity, language allowlist). Cumulative
    * pass counts fold into ONE aggregate over one scan (each stage is a
    * conjunction of the previous), so the funnel costs the same as a
    * single filter. Rates divide once per stage.
    */
  def filterFunnel(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val r1 = col("n_chars") >= 100L
    val r2 = size(toks) >= 20
    val r3 = expr("size(array_distinct(split(trim(text), '\\\\s+'))) * 10 >= size(split(trim(text), '\\\\s+')) * 3")
    val r4 = col("lang").isin("en", "es", "de", "fr")
    documents
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(r1, 1L).otherwise(0L)).as("pass_len"),
        sum(when(r1 && r2, 1L).otherwise(0L)).as("pass_tokens"),
        sum(when(r1 && r2 && r3, 1L).otherwise(0L)).as("pass_diversity"),
        sum(when(r1 && r2 && r3 && r4, 1L).otherwise(0L)).as("pass_lang"))
      .withColumn(
        "final_yield",
        expr("CAST(pass_lang AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
  }

  /** Batch-over-batch vocabulary drift: documents group into ingestion
    * batches (doc_id ranges — the fixture carries no ingest time), and
    * consecutive batches compare token SETS by Jaccard. Set sizes and
    * intersections are exact integer counts (distinct projection, one
    * arithmetic batch+1 self-join on token); one division per batch
    * pair.
    */
  def vocabDrift(documents: DataFrame, batchDocs: Int = 100): DataFrame = {
    val sets = documents
      .select(
        expr(s"doc_id div $batchDocs").as("batch"),
        explode(tokens(col("text"))).as("tok"))
      .distinct()
    val sizes = sets.groupBy(col("batch")).agg(count(lit(1)).as("n_tokens"))
    val common = sets.as("a")
      .join(
        sets.as("b"),
        col("a.tok") === col("b.tok") && col("b.batch") === col("a.batch") + 1)
      .groupBy(col("b.batch").as("batch"))
      .agg(count(lit(1)).as("n_common"))
    sizes
      .join(
        sizes.select(
          (col("batch") + 1).as("batch"), col("n_tokens").as("n_tokens_prev")),
        "batch")
      .join(common, Seq("batch"), "left")
      .select(
        col("batch"), col("n_tokens_prev"), col("n_tokens"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr("""CAST(coalesce(n_common, 0) AS DOUBLE)
                / CAST(n_tokens_prev + n_tokens - coalesce(n_common, 0) AS DOUBLE)""")
          .as("jaccard"))
  }

  /** χ² independence cells for the (source × lang) contingency table —
    * the corpus-drift check before mixing sources: each cell reports its
    * observed count, the independence expectation rt·ct/N, and its χ²
    * contribution (obs−exp)²/exp. All inputs are exact integer margins
    * (three map-combined aggregates, broadcast joins); each cell's
    * doubles are a fixed-order expression, and no cross-cell double sum
    * exists — consumers threshold per cell.
    */
  def chi2Independence(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy(col("source")).agg(sum(col("obs")).as("rt"))
    val colTot = cells.groupBy(col("lang")).agg(sum(col("obs")).as("ct"))
    val total = cells.agg(sum(col("obs")).as("n"))
    cells
      .join(broadcast(rowTot), "source")
      .join(broadcast(colTot), "lang")
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("lang"), col("obs"),
        expr("CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)").as("exp"),
        expr("""(CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                / nullif(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 0.0E0)""")
          .as("contrib"))
  }

  /** Cramér's V for the (source × lang) association — the normalized
    * effect size on top of [[chi2Independence]]'s cells: V = sqrt(χ² /
    * (N·min(r−1, c−1))). Per-cell χ² contributions are micro-quantized
    * to BIGINT before the cross-cell sum (the library's order-free-sum
    * rule — cell iteration order differs between engines). One cells
    * aggregate + broadcast margins, single row out.
    */
  def cramersV(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy(col("source")).agg(sum(col("obs")).as("rt"))
    val colTot = cells.groupBy(col("lang")).agg(sum(col("obs")).as("ct"))
    val total = cells.agg(sum(col("obs")).as("n"))
    val contrib =
      """(CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
         / nullif(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 0.0E0)"""
    cells
      .join(broadcast(rowTot), "source")
      .join(broadcast(colTot), "lang")
      .crossJoin(broadcast(total))
      .agg(
        max(col("n")).as("nn"),
        countDistinct(col("source")).as("r"),
        countDistinct(col("lang")).as("c"),
        sum(expr(s"CAST(round(($contrib) * 1000000) AS BIGINT)")).as("chi2_micro"))
      .select(
        col("nn").as("n"), col("r"), col("c"),
        expr("CAST(chi2_micro AS DOUBLE) / 1000000.0").as("chi2"),
        expr("""sqrt((CAST(chi2_micro AS DOUBLE) / 1000000.0)
                / nullif(CAST(nn AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE), 0.0E0))""").as("v"))
  }

  /** McNemar's paired-proportion statistic over two curation predicates
    * evaluated on the SAME documents (long: n_chars > 2000·scale vs
    * wordy: n_tokens > threshold): the discordant cells b (long-only)
    * and c (wordy-only) drive (|b−c|−1)²/(b+c) — the test that the two
    * screens disagree symmetrically. One map-combined pass, one row.
    */
  def mcnemar(
      documents: DataFrame,
      charThreshold: Long = 300L,
      tokenThreshold: Long = 55L): DataFrame =
    documents
      .select(
        (col("n_chars") > charThreshold).as("p1"),
        (size(tokens(col("text"))).cast("long") > tokenThreshold).as("p2"))
      .agg(
        sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("a"),
        sum(when(col("p1") && !col("p2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("p1") && col("p2"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("p1") && !col("p2"), 1L).otherwise(0L)).as("d"))
      .select(
        col("a"), col("b"), col("c"), col("d"),
        expr(mcnemarSql).as("stat"))

  /** Continuity-corrected McNemar text over (b, c) — NULL when no
    * discordant pairs. Shared verbatim with the oracle.
    */
  def mcnemarSql: String =
    """CASE WHEN b + c = 0 THEN NULL
            ELSE (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                 * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)
                 / CAST(b + c AS DOUBLE) END"""

  /** KMV / θ-sketch distinct-set intersection between two sources'
    * vocabularies, with the exact answer beside it (the sketch-accuracy
    * readout, companion to the MinHash and HLL accuracy queries): token
    * hashes are 32-bit md5 prefixes (deterministic on any engine), θ is
    * the k-th smallest hash of the UNION, and any set expressible over
    * the retained hashes < θ estimates as count/θ_norm — here the union
    * and the intersection. Work is two vocabulary-sized aggregates and a
    * bottom-k (TakeOrdered, k rows to the driver side of the plan);
    * nothing corpus-scale is sorted.
    */
  def kmvIntersect(
      documents: DataFrame,
      srcA: String = "src0",
      srcB: String = "src1",
      k: Int = 64): DataFrame = {
    val hSql = Stages.md5BitsSql("tok", "1", 8)
    val hs = documents
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .distinct()
      .select(col("source"), expr(hSql).as("h"))
      .groupBy(col("h"))
      .agg(
        sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb"))
    val theta = hs.orderBy(col("h")).limit(k).agg(max(col("h")).as("theta"))
    hs.crossJoin(broadcast(theta))
      .agg(
        max(col("theta")).as("theta"),
        count(lit(1)).as("n_union_exact"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L)).as("n_inter_exact"),
        sum(when(col("h") < col("theta"), 1L).otherwise(0L)).as("below_union"),
        sum(when(col("h") < col("theta") && col("ca") > 0 && col("cb") > 0, 1L)
          .otherwise(0L)).as("below_inter"))
      .select(
        lit(k.toLong).as("k"), col("theta"),
        col("n_union_exact"), col("n_inter_exact"),
        expr(s"CAST(below_union AS DOUBLE) * 4294967296.0 / CAST(theta AS DOUBLE)")
          .as("est_union"),
        expr(s"CAST(below_inter AS DOUBLE) * 4294967296.0 / CAST(theta AS DOUBLE)")
          .as("est_inter"))
  }

  /** Distinctive vocabulary per source by LIFT — share of the token
    * within its source over its share in the whole corpus, `cnt·N /
    * (sn·tc)` — the ln-free cousin of TF-IDF (pure counts, one
    * fixed-order double expression). Tokens under `minCount` corpus
    * occurrences are pruned BEFORE the ranking window, so the per-source
    * top-k ranks over a vocabulary already reduced to frequent terms.
    */
  def keywordLift(documents: DataFrame, k: Int = 5, minCount: Long = 5L): DataFrame = {
    val tok = documents.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val perSrcTok = tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
    val perTok = perSrcTok.groupBy(col("tok"))
      .agg(sum(col("cnt")).as("tc"))
      .filter(col("tc") >= minCount)
    val perSrc = perSrcTok.groupBy(col("source")).agg(sum(col("cnt")).as("sn"))
    val total = perSrc.agg(sum(col("sn")).as("nn"))
    val lifted = perSrcTok
      .join(perTok, "tok")
      .join(broadcast(perSrc), "source")
      .crossJoin(broadcast(total))
      .withColumn(
        "lift",
        expr("""CAST(cnt AS DOUBLE) * CAST(nn AS DOUBLE)
                / (CAST(sn AS DOUBLE) * CAST(tc AS DOUBLE))"""))
    Relational.topKPerGroup(lifted, k, Seq(col("source")), col("lift").desc, col("tok").asc)
      .select(col("source"), col("rank"), col("tok"), col("cnt"), col("lift"))
  }

  /** Compression-dictionary coverage: what fraction of each source's
    * token stream the global top-`dictSize` tokens cover. The dictionary
    * is a distributed top-k (sort-limit — TakeOrdered, no single-
    * partition window) broadcast back onto the per-source counts; the
    * report is |sources| rows of integer tallies and one division.
    * The fixture vocabulary is small, so the default dictionary is 10
    * tokens — at real scale the same plan runs with 10⁵-entry
    * dictionaries unchanged (the dict side stays broadcast-sized).
    */
  def dictCoverage(documents: DataFrame, dictSize: Int = 10): DataFrame = {
    val perSrcTok = documents
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val dict = perSrcTok
      .groupBy(col("tok"))
      .agg(sum(col("cnt")).as("tc"))
      .orderBy(col("tc").desc, col("tok").asc)
      .limit(dictSize)
      .select(col("tok"))
    perSrcTok
      .join(broadcast(dict).withColumn("in_dict", lit(1L)), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("in_dict").isNotNull, col("cnt")).otherwise(0L)).as("n_covered"))
      .withColumn(
        "coverage",
        expr("CAST(n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE)"))
  }

  /** URL field extraction — the log-parsing staple: a canonical URL is
    * synthesized in-plan from document attributes (the fixture carries
    * no URL column), then host / path segment / query parameter are
    * pulled back out with `regexp_extract` group captures. Entirely
    * per-row, scan-speed; the synthesis-then-parse round trip makes the
    * extraction verifiable against trivially known values.
    */
  def urlExtract(documents: DataFrame): DataFrame =
    documents
      .withColumn(
        "url",
        concat(
          lit("https://"), col("source"), lit(".example.com/"),
          col("lang"), lit("/doc-"), col("doc_id").cast("string"),
          lit("?len="), col("n_chars").cast("string")))
      .select(
        col("doc_id"),
        col("url"),
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"),
        regexp_extract(col("url"), "^https://[^/]+/([^/]+)/", 1).as("path_lang"),
        regexp_extract(col("url"), "len=([0-9]+)", 1).cast("long").as("len_param"))

  /** Canonical-URL dedup — the first pass of a web-corpus build: raw
    * URLs canonicalize (lowercase, strip www / query / fragment /
    * trailing slash) and collapse by exact hash-groupBy, keeping the
    * smallest doc_id per canonical URL. The fixture carries no URL
    * column, so decorated variants are synthesized in-plan from doc
    * attributes (the [[urlExtract]] trick): consecutive doc pairs point
    * at one canonical target behind different decorations (scheme-case
    * www, host case, tracking query, fragment, trailing slash), so the
    * collapse is verifiable against trivially known values.
    * Canonicalization is per-row scan work; the dedup is ONE
    * map-combined hash aggregate on the canonical key — the same
    * minimal shuffle as [[Dedup.exact]] at any corpus scale.
    */
  def urlCanonicalDedup(documents: DataFrame): DataFrame = {
    // source/lang ride coalesce(_, ''): a NULL attribute would null the
    // whole concat, and the engine's orderBy and the DuckDB oracle's
    // ORDER BY disagree on null placement (NULLS FIRST vs LAST) — the
    // fixture happens to carry no nulls, but the query must not depend
    // on that. Mirrored in the oracle's url construction.
    val raw = concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("https://WWW.")),
      when(col("doc_id") % 3 === 0, lit("DOCS.example.com")).otherwise(lit("docs.example.com")),
      lit("/corpus/page-"), expr("CAST(doc_id div 2 AS STRING)"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 1,
        concat(lit("?utm_source="), coalesce(col("source"), lit("")))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit("#frag-"), coalesce(col("lang"), lit("")))).otherwise(lit("")))
    documents
      .select(col("doc_id"), raw.as("url"))
      .withColumn(
        "canonical_url",
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("url")), "[?#].*$", ""),
            "^https://www\\.", "https://"),
          "/$", ""))
      .groupBy(col("canonical_url"))
      .agg(
        count(lit(1)).as("n_raw_urls"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("keeper_doc_id"))
  }

  /** Flesch-style readability per document from regex-countable proxies:
    * words (`\s+` split), syllables ≈ vowel groups, long words (≥ 6
    * chars). The fixture corpus carries NO sentence punctuation, so
    * sentence boundaries are synthesized as one per 12 words (ceil) —
    * stated in-plan and mirrored in the oracle, like the null-synthesis
    * rules. Entirely per-row (scan-speed at any scale); the score is a
    * fixed IEEE expression tree over integer counts.
    */
  def readability(documents: DataFrame): DataFrame =
    documents
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_words"),
        expr("CAST(size(filter(split(trim(text), '\\\\s+'), t -> length(t) >= 6)) AS LONG)")
          .as("n_long_words"),
        expr("CAST(size(regexp_extract_all(text, '[aeiouy]+', 0)) AS LONG)")
          .as("n_syllables"))
      .withColumn("n_sentences", expr("(n_words + 11) div 12"))
      .withColumn(
        "flesch",
        expr("""206.835
                - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))"""))

  /** Count-min sketch accuracy report: a d=4 × w=`width` sketch of the
    * corpus token counts — row hashes are the four disjoint 8-hex-char
    * slices of md5(token) mod `width` (the digest-slicing family MinHash
    * already uses, so any engine reproduces the bucketing) — point-
    * queried for the `topN` most frequent tokens against their exact
    * counts. The sketch build is one map-side-combinable aggregate down
    * to d·w counters regardless of corpus size, and the point query joins
    * the broadcast d·w counter table — the shape that survives 100 TB
    * (the exact counts here are the verification harness; a production
    * sketch would skip them). CMS never undercounts, so `err ≥ 0`
    * measures collision inflation at this width.
    */
  def cmsAccuracy(documents: DataFrame, width: Int = 512, topN: Int = 20): DataFrame = {
    val counts = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("true_cnt"))
    val keyed = counts
      .select(col("tok"), col("true_cnt"), explode(expr("sequence(0, 3)")).as("j"))
      .withColumn(
        "bucket",
        expr(s"${Stages.md5BitsSql("tok", "j * 8 + 1", 8)} % $width"))
    val counters = keyed
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("true_cnt")).as("counter"))
    val est = keyed
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy(col("tok"))
      .agg(max(col("true_cnt")).as("true_cnt"), min(col("counter")).as("cms_est"))
    graft.engine.Relational
      .rankedTopK(est, topN, col("true_cnt").desc, col("tok").asc)
      .select(
        col("rank"), col("tok"), col("true_cnt"), col("cms_est"),
        (col("cms_est") - col("true_cnt")).as("err"))
  }

  /** AMS / CountSketch estimate of the corpus token second frequency
    * moment F₂ = Σ c(tok)² — the self-join-size statistic that prices
    * every similarity self-join in this library before running it. Each
    * token gets a ±1 sign (parity of md5 hex digit 17 — disjoint from
    * the 16 digits the bucket hash consumes) and one of `buckets`
    * counters; the sketch S_b = Σ sign·count is a map-side-combinable
    * BIGINT sum down to `buckets` cells at any corpus size, and
    * Σ S_b² is the unbiased F₂ estimate — pure integers end to end
    * (E[estimate] = F₂ because cross-token sign products cancel). The
    * exact F₂ alongside is the test harness; at 100 TB only the sketch
    * runs. Signed relative error is the one DOUBLE, shared verbatim
    * with the oracle.
    */
  /** Zipf's-law audit of the corpus token distribution: for the top-`n`
    * tokens, rank·count (Zipf predicts ≈ constant = the top count) and
    * its ratio to the rank-1 count. Entirely integer until the one
    * shared-text ratio — no logs, no log-log fit (ln isn't correctly
    * rounded across engines; the rank·frequency product reads the same
    * law without it). One map-combined count + distributed TakeOrdered.
    */
  def zipfAudit(documents: DataFrame, topN: Int = 30): DataFrame = {
    val counts = documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
    val c1 = counts.agg(max(col("n")).as("c1"))
    graft.engine.Relational
      .rankedTopK(counts, topN, col("n").desc, col("token").asc)
      .crossJoin(broadcast(c1))
      .select(
        col("rank"), col("token"), col("n"),
        (col("rank") * col("n")).as("rf"),
        expr("CAST(rank * n AS DOUBLE) / CAST(c1 AS DOUBLE)").as("rf_ratio"))
  }

  def amsF2(documents: DataFrame, buckets: Int = 256): DataFrame = {
    val counts = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val signed = counts.select(
      col("cnt"),
      expr(s"${Stages.md5BitsSql("tok", "1", 8)} % $buckets").as("bucket"),
      expr(s"${Stages.md5BitsSql("tok", "17", 1)} % 2 * 2 - 1").as("sgn"))
    val sketch = signed
      .groupBy(col("bucket"))
      .agg(sum(col("sgn") * col("cnt")).as("s"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("s") * col("s")).as("f2_est"))
    val exact = counts.agg(
      count(lit(1)).as("n_tokens"),
      sum(col("cnt") * col("cnt")).as("f2_exact"))
    exact
      .crossJoin(broadcast(sketch))
      .select(
        col("n_tokens"), col("n_buckets"), col("f2_exact"), col("f2_est"),
        expr("CAST(f2_est - f2_exact AS DOUBLE) / CAST(f2_exact AS DOUBLE)").as("rel_err"))
  }

  /** Candidate capacity `k` of [[spaceSavingHeavyHitters]]'s top-k summary. */
  val SpaceSavingCapacity = 64

  /** SpaceSaving top-k guarantee contract over the corpus bigram stream:
    * the k-candidate summary, the candidate count, and the three
    * guarantee booleans (estimates never undercount, overestimates stay
    * within 2n/k, every bigram with true frequency above 4n/k tracked)
    * checked against the exact counts.
    *
    * The summary is the grouped top-k candidate grid — the map-combined
    * count table's TakeOrdered top-k — so est is the EXACT count (est = f,
    * the zero-slack member of the SpaceSaving invariant family) and the
    * booleans hold by construction: the query reports the contract, it
    * does not run a sketch. `SpaceSavingSketchSpec` guards the contract
    * with a mergeable SpaceSaving sketch (a reference model in the test
    * sources): it folds the same bigram stream through
    * it in merged chunks and requires its buffer to yield this row's
    * candidate count and booleans. (r11 replaced the typed-Aggregator
    * merge here: it never entered whole-stage codegen and ran the stream
    * reduce twice; the row is bit-identical.)
    */
  def spaceSavingHeavyHitters(documents: DataFrame): DataFrame = {
    val k = SpaceSavingCapacity.toLong
    // bigram stream, not unigrams: the fixture vocabulary (31 tokens) is
    // smaller than the candidate capacity, but its ~31² bigram space
    // overfills it, so the top-k cut actually binds
    val toks = documents
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(adjacentPairs(col("t"))).as("bg"))
      .select(concat_ws(" ", col("bg.w1"), col("bg.w2")).as("token"))
    // ONE stream pass: the vocabulary-bounded exact count table feeds the
    // candidate grid, the guarantee checks and the stream length
    val exact = toks.groupBy("token").agg(count(lit(1)).as("f")).cacheT()
    // grouped top-k candidate grid: TakeOrdered over the count table
    // (per-partition heaps, k rows to the driver merge) — deterministic
    // via the (f desc, token asc) total order
    val est = exact
      .orderBy(col("f").desc, col("token").asc)
      .limit(k.toInt)
      .select(col("token"), col("f").as("est"))
    val n = exact.agg(sum(col("f")).cast("long").as("n_tokens"))
    val candChecks = est
      .join(exact, Seq("token"), "left")
      .crossJoin(n)
      .agg(
        count(lit(1)).cast("long").as("n_candidates"),
        expr("bool_and(est >= f)").as("est_geq_exact"),
        // k interpolated, not a hardcoded 64: retuning the sketch
        // Capacity must retune the 2n/k and 4n/k guarantee bounds this
        // self-validation tests, or the reported booleans stop
        // corresponding to the k the row reports
        expr(s"bool_and(est - f <= (2 * n_tokens) div $k)").as("overest_within_bound"))
    val heavyMissing = exact
      .crossJoin(n)
      .filter(expr(s"f > (4 * n_tokens) div $k"))
      .join(est, Seq("token"), "left_anti")
      .agg(count(lit(1)).as("missing"))
    candChecks
      .crossJoin(heavyMissing)
      .crossJoin(n)
      .select(
        lit(k).as("k"),
        col("n_tokens"),
        col("n_candidates"),
        col("est_geq_exact"),
        col("overest_within_bound"),
        (col("missing") === lit(0L)).as("heavy_all_present"))
  }

  /** Temperature-2 language-balancing mix: per language, the corpus
    * token share and the T=2 resampling weight ∝ √share (the standard
    * multilingual-mix temperature — and the ONE temperature whose
    * power is the correctly-rounded sqrt, hence bit-portable). Each
    * language's √share quantizes to the micro grid PER ROW before
    * normalizing, so the denominator is an order-free integer sum and
    * the final mix is exact rationals. Emits old vs new mix and the
    * implied up/down-sampling factor.
    */
  def temperatureMix(documents: DataFrame): DataFrame = {
    val perLang = documents
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = perLang.agg(sum(col("n_tokens")).as("tot"))
    val weighted = perLang
      .crossJoin(broadcast(tot))
      .withColumn(
        "w_micro",
        expr("CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    weighted
      .crossJoin(broadcast(weighted.agg(sum(col("w_micro")).as("wsum"))))
      .select(
        col("lang"),
        col("n_docs"),
        col("n_tokens"),
        expr("CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)").as("share"),
        col("w_micro"),
        expr("CAST(w_micro AS DOUBLE) / CAST(wsum AS DOUBLE)").as("mix_t2"),
        expr(
          """(CAST(w_micro AS DOUBLE) / CAST(wsum AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))""").as("resample_factor"))
  }

  /** Capped proportional token-budget allocation (waterfill, two
    * rounds): a training budget of half the corpus tokens allocates
    * across sources ∝ size, capped at 40% of the budget per source;
    * round two redistributes the capped surplus among uncapped sources
    * by their shares. All integer floor divisions — the residual after
    * round two is reported, not hidden. The data-mixing allocator a
    * pretraining run derives its per-source sampling from.
    */
  def tokenWaterfill(documents: DataFrame): DataFrame = {
    val perSource = documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("n_tokens"))
    val tot = perSource.agg(sum(col("n_tokens")).as("tot"))
    val r1 = perSource
      .crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot div 2"))
      .withColumn("cap", expr("(budget * 40) div 100"))
      .withColumn("prop", expr("(budget * n_tokens) div tot"))
      .withColumn("alloc1", least(col("prop"), col("cap")))
      .withColumn("capped", col("prop") > col("cap"))
    val leftovers = r1.agg(
      (max(col("budget")) - sum(col("alloc1"))).as("leftover"),
      sum(when(!col("capped"), col("n_tokens")).otherwise(0L)).as("uncapped_tokens"))
    r1.crossJoin(broadcast(leftovers))
      .withColumn(
        "alloc2",
        expr("""CASE WHEN capped OR uncapped_tokens = 0 THEN alloc1
                     ELSE least(cap, alloc1 + (leftover * n_tokens) div uncapped_tokens) END"""))
      .select(
        col("source"),
        col("n_tokens"),
        col("budget"),
        col("cap"),
        col("alloc1"),
        col("alloc2"),
        expr("CAST(alloc2 AS DOUBLE) / CAST(n_tokens AS DOUBLE)").as("sample_rate"))
  }

  /** Quality-ranked GLOBAL token-budget cut — the doc-level selection
    * that [[waterfill]]'s per-source allocation feeds at corpus scale:
    * rank every document by an integer quality proxy (stopword density
    * on the MICRO grid, `(10⁶·hits) div tokens` — order-free, ties by
    * doc_id), run the exact token cumsum in that order, and keep
    * documents while the running total stays within the budget (half
    * the corpus tokens — scale-free, no fixed constant to empty at
    * another SF). The cut is the classic "best docs until the budget is
    * spent" curation pass; both global stages ride the scalable
    * primitives ([[graft.engine.Relational.scalableGlobalRank]] /
    * [[graft.engine.Relational.scalableCumSum]]) — no single-partition
    * corpus window anywhere. Output is |sources|-bounded: per-source
    * doc/token totals, kept counts, and the worst kept quality.
    */
  def budgetCut(documents: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    val perDoc = documents
      .select(
        col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        vocabHits(toks, stopwords("en")).cast("long").as("hits"))
      .withColumn("q_micro", expr("(1000000 * hits) div n_tokens"))
    val budget = perDoc.agg(expr("sum(n_tokens) div 2").as("budget"))
    graft.engine.Relational
      .scalableCumSum(perDoc, "n_tokens", col("q_micro").desc, col("doc_id").asc)
      .crossJoin(broadcast(budget))
      .withColumn("kept", col("cum") <= col("budget"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
        min(when(col("kept"), col("q_micro"))).as("cut_q_micro"))
  }

  /** Curriculum schedule over sources ordered by mean document quality
    * (length proxy): rank sources easiest-first (higher mean length =
    * richer documents last), with cumulative document and token counts
    * — the phase boundaries a curriculum loader consumes. Means
    * compared and emitted as exact rationals; the cumulative window
    * runs over the |sources|-bounded table.
    */
  def curriculumSchedule(documents: DataFrame): DataFrame = {
    val perSource = documents
      .select(col("source"), col("n_chars"), size(tokens(col("text"))).cast("long").as("toks"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("toks")).as("n_tokens"))
    val w = Window.partitionBy(lit(1))
      .orderBy(expr("CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)").asc, col("source").asc)
    perSource
      .withColumn("phase", row_number().over(w).cast("long"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        col("phase"),
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        expr("CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("mean_chars"),
        col("cum_docs"),
        col("cum_tokens"))
  }

  /** Robust scaling of document length per source: (n_chars − median) /
    * IQR with per-source exact order statistics — the outlier-immune
    * feature normalization (RobustScaler) for length-aware curation.
    * Quartiles use explicit 1-indexed ranks — median ⌈n/2⌉ (lower
    * median), Q1 at (n+3) div 4, Q3 at (3n+1) div 4 — the deterministic
    * rule both engines spell identically; no interpolation, so
    * everything is integer until the one shared final division. Ranks
    * resolve on the per-source value grid (first value whose cumulative
    * count reaches the target rank); a zero IQR yields NULL by an
    * integer-condition CASE.
    */
  def robustScale(documents: DataFrame): DataFrame = {
    // Quartiles off the per-source (n_chars → count) DISTRIBUTION, so the
    // cumulative window sorts the value grid — never per-source document
    // rows, which would put corpus/|sources| rows in one task at scale.
    def pick(r: String) = Relational.rankPick(expr(r), col("n_chars"))
    val stats = Relational
      .gridRunningWeight(
        documents.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c")),
        Seq("source"), "n_chars", "c")
      .groupBy(col("source"))
      .agg(
        pick(Stages.lowerMedianRankSql("n")).as("med"),
        pick("(n + 3) div 4").as("q1"),
        pick("(3 * n + 1) div 4").as("q3"))
    documents
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(stats, Seq("source"))
      .select(
        col("doc_id"),
        col("source"),
        col("n_chars"),
        col("med"),
        (col("q3") - col("q1")).as("iqr"),
        expr(
          """CASE WHEN q3 - q1 = 0 THEN NULL
             ELSE CAST(n_chars - med AS DOUBLE) / CAST(q3 - q1 AS DOUBLE) END""").as("scaled"))
  }
}
