package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-ratio heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (polynomial
  * rolling hash + windowed min-gram, winnowing-style).
  *
  * Everything is pure `functions._` composition (codegen'd, no UDFs) so a
  * scan over 100 TB of documents stays inside whole-stage codegen: one
  * pass, no shuffle — these are per-row map operators.
  *
  * Determinism contract (for the DuckDB oracle): only IEEE-exact double
  * ops (single divisions/multiplications of exactly-representable
  * operands), sequential integer folds with an explicit modulus — bit
  * identical across engines.
  */
object TextAnalysis {

  /** Bounded cache window for compact term-frequency frames: the bm25
    * plan consumes its (id, token, tf, dl) aggregation from THREE
    * branches (the row side, the df-by-token side, the total-token
    * scalar), and at runtime under AQE none of those exchanges reuse
    * (the planner-level ReuseExchange the spec pins with AQE OFF is not
    * applied by AQE's runtime stage cache here — three full corpus
    * tokenize scans, measured). Persisting the compact tf frame makes
    * tokenization run ONCE at any scale; MEMORY_AND_DISK, evictable,
    * recompute-safe. */
  private val tfCacheWindow = new CacheWindows(4)

  /** Unpersist every tf frame this module still holds (all sessions). */
  def releaseCaches(): Unit = tfCacheWindow.releaseAll()

  /** Polynomial-hash modulus / base (same constants in the oracle SQL). */
  val P = 1000000007L
  val B = 31L

  /** Tiny per-language stopword lists — a deterministic n-gram-free
    * language-ID heuristic (reference-class engines ship lexicon-based
    * heuristics; anything ML is out of scope and nondeterministic). */
  val StopEn = Seq("the", "and", "of", "to", "in", "is", "it", "for", "on", "with")
  val StopDe = Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich", "zu")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "un", "es", "no", "por")
  val StopFr = Seq("le", "la", "de", "et", "un", "que", "pour", "dans", "ce", "est")

  /** Non-empty whitespace tokens. `array_remove`, not a `filter` lambda:
    * it is code-generated, and unlike a lambda it lets common
    * subexpression elimination split [[langScores]]' text once per row. */
  def tokens(text: Column): Column =
    array_remove(split(text, " "), "")

  /** Fraction of tokens that are members of `stop` (0.0 on empty docs). */
  def stopRatio(toks: Column, stop: Seq[String]): Column =
    when(size(toks) > 0,
      size(filter(toks, t => t.isin(stop: _*))) * lit(1.0) / size(toks))
      .otherwise(lit(0.0))

  /** Per-language stopword scores over lowercased tokens. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(lower(text))
    Seq("en" -> StopEn, "de" -> StopDe, "es" -> StopEs, "fr" -> StopFr)
      .map { case (l, sw) => l -> stopRatio(toks, sw) }
  }

  /** Predicted language: first language (en,de,es,fr order) whose score is
    * maximal — the tie order is part of the contract. */
  def langId(scores: Seq[(String, Column)]): Column = {
    val m = scores.toMap
    when(m("en") >= m("de") && m("en") >= m("es") && m("en") >= m("fr"), "en")
      .when(m("de") >= m("es") && m("de") >= m("fr"), "de")
      .when(m("es") >= m("fr"), "es")
      .otherwise("fr")
  }

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric glyphs each count as one token. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0))

  /** Punctuation characters counted by the quality score. */
  val PunctPattern = "[.,;:!?'\"]"

  /** Punctuation-character fraction of the text (0.0 on empty). */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, PunctPattern, ""))) * lit(1.0)
        / length(text))
      .otherwise(lit(0.0))

  /** Mean token length in characters (0.0 on empty docs). */
  def avgTokenLen(toks: Column): Column =
    when(size(toks) > 0,
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L),
        (acc, x) => acc + x) * lit(1.0) / size(toks))
      .otherwise(lit(0.0))

  /** Composite quality score: stopword density is good signal, punctuation
    * noise is bad, a length floor rewards real documents. The exact linear
    * form is mirrored in the oracle SQL — arithmetic order matters for bit
    * equality. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    stopRatio(toks, StopEn) * lit(2.0) - punctRatio(text) +
      when(size(toks) >= 20, lit(0.1)).otherwise(lit(0.0))
  }

  /** Canonical text normalization — the pass every dedup/fingerprint
    * stage runs first at scale: lowercase, collapse whitespace runs to
    * one space, trim. Pure codegen'd string expressions. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  // Conservative content-flag patterns, identical under Java regex and
  // RE2 (no backrefs/lookaround): the filters a corpus-quality sweep
  // applies before training.
  val UrlPattern = "https?://[^ ]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val DigitRunPattern = "[0-9]{6,}"

  /** Content flags: URL / email / long-digit-run presence + counts. */
  def contentFlags(text: Column): Seq[(String, Column)] = Seq(
    "has_url" -> (size(regexp_extract_all(text, lit(UrlPattern), lit(0))) > 0),
    "has_email" -> (size(regexp_extract_all(text, lit(EmailPattern), lit(0))) > 0),
    "n_digit_runs" -> size(regexp_extract_all(text, lit(DigitRunPattern), lit(0))))

  /** PII-style redaction: URLs, emails, then long digit runs replaced by
    * placeholder tags (URL first — an email-shaped substring inside a URL
    * query string must redact as part of the URL, and digit runs last so
    * they can't bite pieces out of the other two). Same conservative
    * RE2-compatible patterns as [[contentFlags]]; one codegen'd
    * regexp_replace chain, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "[URL]"),
        EmailPattern, "[EMAIL]"),
      DigitRunPattern, "[NUM]")

  /** Word n-grams WITHOUT distincting (the repetition signal needs the
    * duplicates [[Dedup.shingles]] throws away). Split on single spaces
    * with empties KEPT — same tokenization as the shingle/dedup family;
    * empty array below n tokens. This HOF form is the executable
    * specification for [[dupGramFraction]] (interpreted per gram —
    * ~100× slower than the native path, do not put it in a hot loop). */
  def wordGrams(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      k => concat_ws(" ", (0 until n).map(o => element_at(toks, k + o)): _*))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition signal: the fraction of n-gram occurrences
    * that are repeats of an earlier occurrence in the same document
    * (0.0 when the doc has no n-grams). High values flag boilerplate,
    * keyword stuffing, and generation loops — standard quality-filter
    * input.
    *
    * total grams = max(0, |tokens| − n + 1) is plain arithmetic and the
    * distinct count rides the native [[graft.functions.ShingleHashes]]
    * expression, so the whole signal is one codegen-friendly scan — the
    * HOF gram materialization ([[wordGrams]] + array_distinct) computes
    * the same value ~100× slower (69s → <1s on the sf0.1 bench corpus).
    * Distinctness is over 64-bit gram hashes: a per-doc collision needs
    * ~|grams|²/2⁶⁴ ≈ 10⁻¹¹ odds. One exact double division; no shuffle. */
  def dupGramFraction(text: Column, n: Int): Column = {
    val total = size(split(text, " ")) - (n - 1)
    val distinctG = size(graft.functions.ShingleHashes.shingleHashes(text, n))
    when(total > 0, (total - distinctG) * lit(1.0) / total)
      .otherwise(lit(0.0))
  }

  /** Per-character code points as longs (ASCII corpus contract). */
  def charCodes(text: Column): Column =
    transform(split(text, ""), c => ascii(c).cast("long"))

  private def polyFold(codes: Column): Column =
    aggregate(codes, lit(0L), (acc, c) => (acc * B + c) % P)

  /** Whole-document polynomial rolling hash: fold (acc*31 + code) % P over
    * every character — the classic Rabin-Karp document fingerprint. */
  def fingerprint(text: Column): Column = polyFold(charCodes(text))

  /** Winnowing-style min-gram fingerprint: minimum polynomial hash over
    * every k-char window. Near-identical documents share the minimizing
    * window with high probability, so equal min-grams flag near-dups with
    * one scan and a groupBy — no pair join. Falls back to the whole-text
    * hash when the text is shorter than k.
    *
    * Implemented as the native rolling-hash expression
    * [[graft.functions.MinGramHash64]] (O(len) single pass); the
    * equivalent HOF composition (`transform(sequence, i ->
    * aggregate(slice))`) computes identical values but interprets
    * O(len·k) lambdas — ~200× slower, measured. */
  def minGramFingerprint(text: Column, k: Int = 8): Column =
    graft.functions.MinGramHash64.minGramHash64(text, k)

  /** The HOF form of [[minGramFingerprint]] — kept as the executable
    * specification the native expression is cross-checked against. */
  def minGramFingerprintHof(text: Column, k: Int = 8): Column = {
    val codes = charCodes(text)
    val gramHashes = transform(
      sequence(lit(1), size(codes) - (k - 1)),
      i => polyFold(slice(codes, i, lit(k))))
    when(size(codes) >= k, array_min(gramHashes)).otherwise(polyFold(codes))
  }

  // ── corpus-level statistics (the only TextAnalysis ops that shuffle) ─

  /** Corpus vocabulary: per token, document frequency (docs containing
    * it) and total term frequency. One explode + one hash aggregation by
    * token — partial aggregation absorbs hot-token skew before the
    * shuffle, and the exact `countDistinct` expands to (token, id)
    * pre-aggregation; at extreme cardinality swap it for
    * `approx_count_distinct`. df/tf are the ingredients of every
    * TF-IDF-style weighting downstream. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(countDistinct("id").as("df"), count(lit(1)).as("tf"))

  /** Top-k tokens per document by term frequency (ties broken by token
    * order — a total order, so deterministic): groupBy (doc, token) then
    * a per-doc window — both shuffles are keyed by doc id. */
  def docTopTerms(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, ordLongs: Int = 32): DataFrame = {
    val counts = Par.widen(docs, col(idCol))
      .select(col(idCol).as(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    // bounded-heap top-k (the bm25/tfidf shape) instead of a per-doc
    // row_number window: no second full-frame shuffle+sort, map-side
    // partials ship <= k rows per doc per partition. `ordLongs` sizes
    // the token-ASC tiebreak's sortable-long capacity (8·ordLongs
    // bytes; loud failure past it) — raise it for corpora whose
    // whitespace-free runs (base64 blobs, minified payloads) exceed
    // the 256-byte default, at 8 bytes/long of per-row ordering cost.
    val ord = concat(
      array(graft.ops.TopK.ordDesc(col("tf"))),
      graft.functions.StringOrdLongs.stringOrdAsc(col("token"), ordLongs))
    counts
      .groupBy(col(idCol))
      .agg(graft.functions.TopKRows.topKRows(ord,
        struct(col("token"), col("tf")), k).as("__topk"))
      .select(col(idCol),
        posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(idCol), col("__e.token").as("token"),
        col("__e.tf").as("tf"), (col("__pos") + 1).cast("int").as("rk"))
  }

  /** Sliding token-window chunking — the standard preprocessing step
    * before embedding/RAG indexing: each document becomes ⌈(n−size)/
    * stride⌉+1 overlapping windows of `size` tokens advancing by
    * `stride` (documents at or under `size` tokens yield one chunk,
    * empty documents one empty chunk — no rows are silently dropped).
    * One posexplode per doc; chunk assembly is slice+concat over the
    * token array, O(size/stride) overlap factor — a per-row map, no
    * shuffle. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize)
    // coalesce pins NULL-text semantics explicitly: null ≡ empty ≡ one
    // empty chunk (size(null) is NULL post-2.x, which would silently
    // DROP the doc at the posexplode — a corpus op must not lose rows)
    val toks = tokens(coalesce(col(textCol), lit("")))
    val nChunks = when(size(toks) <= chunkSize, lit(1))
      .otherwise(ceil((size(toks) - chunkSize) / lit(stride.toDouble))
        .cast("int") + 1)
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + 1, lit(chunkSize))))
    docs.select(col(idCol), size(toks).as("__n"),
      posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      // token count from the slice bounds — no re-tokenization of the
      // assembled chunk text in the hot per-row map
      .withColumn("n_chunk_tokens",
        greatest(least(lit(chunkSize), col("__n") - col("chunk_idx") * stride),
          lit(0)))
      .drop("__n")
  }

  /** Top-k terms per document by Okapi BM25 — the retrieval-grade
    * refinement of [[tfidfTopTerms]]: term saturation (k1) stops a
    * 1000-occurrence token from scoring 1000×, and length normalization
    * (b) stops long documents from dominating every term. Standard for
    * corpus keyword extraction and quality-weighted retrieval indexes.
    *
    * Same scale shape as tfidf: the (doc, token) aggregate and the
    * per-doc windows share one `Exchange hashpartitioning(id)` (dl is a
    * whole-partition window sum over the COMPACT tf frame, not the token
    * stream), df is a vocab-sized groupBy with partial aggregation
    * absorbing hot-token skew, and corpus totals ride a broadcast 1-row
    * cross join — no driver action, no window keyed by token.
    *
    * Determinism: with idf in the rational (N − df + 0.5)/(df + 0.5)
    * form (log-free — BM25's log is monotone in it, so per-doc ranking
    * is identical), the whole weight is an exact integer ratio. With
    * T = Σtf (corpus tokens), N = doc count, k1 = 1.2, b = 0.75:
    *
    *   weight = (2N − 2df + 1)·22·tf·T
    *            ───────────────────────────────────  = wNum / wDen
    *            (2df + 1)·(10·tf·T + 3·T + 9·dl·N)
    *
    * The emitted `weight_q` = wNum·10¹² div wDen is a BIGINT — no
    * doubles anywhere on the rank path, so a DuckDB oracle running the
    * same integer ops (HUGEINT `//`) is bit-identical (the r8/r9
    * driver-hash divergence was exactly cross-engine double drift).
    * `rk` orders by (weight_q DESC, token ASC). A `weight` double is
    * emitted for human consumption (weight_q/10¹² — within 1e-12
    * relative of the true rational). Since r14 the whole rational runs
    * in the fused primitive-long expression
    * [[graft.functions.Bm25WeightQ]] (128-bit mul/div inside
    * whole-stage codegen; the old DECIMAL(38,0) form paid five
    * serialized-BigDecimal multiplies per (doc, token) row). Headroom:
    * wNum·10¹² < 44·N·tf·T·10¹² must stay under 2¹²⁷ — true up to
    * ~10⁹ docs × 10¹² tokens at tf ≤ 10² — and any intermediate past it
    * (or a quotient past BIGINT) fails LOUDLY inside the expression
    * rather than silently dropping the hottest tokens from the top-k
    * (the old form proved overflow via NULL products and raise_error;
    * the fused form throws directly, and also catches the too-big-
    * quotient case the old BIGINT cast would have nulled). */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, ordLongs: Int = 32): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // dl (doc length in tokens) = size of the token array, carried
    // through the explode and folded into the SAME (id, token)
    // aggregation as tf — the old form computed it as `sum(tf) over
    // (partition by id)` on the tf frame, a second full shuffle+sort of
    // that frame for a value already known at tokenize time.
    // PERSISTED (bounded window) + eagerly materialized: three branches
    // consume this compact frame (row side, df-by-token, total-token
    // scalar) and AQE's runtime stage cache does not reuse their
    // exchanges (three corpus tokenize scans, measured at sf0.1) — one
    // cache write beats re-tokenizing the corpus twice at every scale.
    // The eager count keeps the broadcast branches from racing the cold
    // cache (NOTES_r5 convoy).
    // Par.widen: the tokenize+explode map side otherwise inherits a
    // single-split scan's one task (no-op on a well-split corpus)
    val counts = tfCacheWindow.add(Par.widen(docs, col(idCol))
      .select(col(idCol).as(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl0"),
        explode(col("__toks")).as("token"))
      .groupBy(idCol, "token")
      .agg(count(lit(1)).as("tf"), max("__dl0").cast("long").as("dl")))
    counts.count()
    val dfByToken = counts.groupBy("token").agg(count(lit(1)).as("df"))
    // total token count from the compact tf frame, not a corpus rescan
    val totToks = counts.agg(sum("tf").as("total_tokens"))
    // The whole rational rides the fused 128-bit primitive expression
    // [[graft.functions.Bm25WeightQ]] (r14): the old DECIMAL(38,0) form
    // paid five serialized-BigDecimal multiplies + a decimal
    // IntegralDivide per (doc, token) row; the fused form is
    // allocation-free primitive long arithmetic inside whole-stage
    // codegen with the SAME loud-failure headroom contract (any
    // intermediate past 2¹²⁷ or a quotient past BIGINT throws — the old
    // NULL-product proof fired at 10³⁸ and silently nulled a too-big
    // quotient). Values are bit-identical inside the headroom: floor
    // division of the same exact integers.
    val weighted = counts
      .join(dfByToken, "token")
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(totToks))
      .withColumn("weight_q", graft.functions.Bm25WeightQ.bm25WeightQ(
        col("tf"), col("df"), col("dl").cast("long"),
        col("n_docs"), col("total_tokens").cast("long")))
      // human-consumption double, derived from the exact quotient (the
      // rank path never touches it); within 1e-12 relative of the true
      // rational by the quantization itself
      .withColumn("weight", col("weight_q").cast("double") / 1e12)
    // Per-doc top-k through the bounded-heap TopKRows aggregate instead
    // of `row_number() over (partition by id order by ...) <= k`: the
    // window form shuffles and sorts the FULL weighted tf frame; the
    // aggregate's map-side partials ship at most k rows per doc per map
    // partition. The ordering (weight_q DESC, token ASC) is total —
    // token is unique within a doc by the groupBy — and the string
    // tiebreak rides [[graft.functions.StringOrdLongs]] (order-
    // preserving sortable longs, loud failure past 8·`ordLongs` bytes —
    // raise `ordLongs` for corpora with whitespace-free runs past the
    // 256-byte default), so the rows are bit-identical to the window
    // form's.
    val ord = concat(
      array(graft.ops.TopK.ordDesc(col("weight_q"))),
      graft.functions.StringOrdLongs.stringOrdAsc(col("token"), ordLongs))
    weighted
      .groupBy(col(idCol))
      .agg(graft.functions.TopKRows.topKRows(ord,
        struct(col("token"), col("tf"), col("df"), col("dl"),
          col("weight_q"), col("weight")), k).as("__topk"))
      .select(col(idCol),
        posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(idCol), col("__e.token").as("token"),
        col("__e.tf").as("tf"), col("__e.df").as("df"),
        col("__e.dl").as("dl"), col("__e.weight_q").as("weight_q"),
        col("__e.weight").as("weight"),
        (col("__pos") + 1).cast("int").as("rk"))
  }

  /** Adjacent word pairs of each document, exploded to (w1, w2) rows.
    * Pairing is per-row array surgery — `arrays_zip(slice, slice)` over
    * the token array, plain (non-lambda) expressions inside whole-stage
    * codegen — so pair construction needs NO shuffle and never crosses
    * document boundaries. NULL/empty/1-token docs yield no pairs. */
  def bigramPairs(docs: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(coalesce(col(textCol), lit("")))
    val n1 = greatest(size(toks) - 1, lit(0))
    docs.select(explode(arrays_zip(
        slice(toks, lit(1), n1), slice(toks, lit(2), n1))).as("p"))
      .select(col("p.*")).toDF("w1", "w2")
  }

  /** Corpus collocations: bigram lift — the log-free monotone core of
    * pointwise mutual information. For each adjacent pair (w1, w2) with
    * count ≥ `minCount`, lift = p(w1,w2) / (p(w1)·p(w2)); PMI = log₂ of
    * it, and since log is monotone, ranking by lift IS ranking by PMI —
    * the rational form keeps the differential oracle bit-exact.
    * High-lift pairs are multiword expressions ("San Francisco");
    * lift ≈ 1 is chance co-occurrence. The `minCount` floor is the
    * standard guard against the rare-pair PMI explosion.
    *
    * Scale shape: pair construction is shuffle-free ([[bigramPairs]]);
    * then one `groupBy(w1, w2)` and one `groupBy(token)`, both with
    * map-side partial aggregation absorbing hot-pair/hot-token skew;
    * unigram counts join back WITHOUT a broadcast hint (a 100 TB
    * corpus's vocabulary can be billions of tokens — AQE picks BHJ only
    * when it measures small); corpus totals ride broadcast 1-row cross
    * joins. No driver action.
    *
    * Determinism: p_xy, p_x, p_y are single double divisions of exact
    * longs and lift = p_xy / (p_x · p_y) — fixed IEEE op order,
    * mirrored in the oracle. Returns (w1, w2, n, lift). */
  def pmiBigrams(docs: DataFrame, textCol: String,
                 minCount: Long = 5L): DataFrame = {
    val pairs = bigramPairs(docs, textCol)
    // n_big derives from the UNfiltered pair aggregate — a vocab-sized
    // frame — instead of a separate count over the pair lineage, which
    // would re-run the corpus tokenize scan once more per action (the
    // same scan tfidf's scaladoc calls the dominant cost at 100 TB);
    // n_uni likewise folds the unigram aggregate
    val pairCountsAll = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n"))
    val pairCounts = pairCountsAll.filter(col("n") >= minCount)
    val uniCounts = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val nUni = uniCounts.agg(sum("c").as("n_uni"))
    val nBig = pairCountsAll.agg(sum("n").as("n_big"))
    val pXy = col("n").cast("double") / col("n_big")
    val pX = col("c1").cast("double") / col("n_uni")
    val pY = col("c2").cast("double") / col("n_uni")
    pairCounts
      .join(uniCounts.withColumnRenamed("token", "w1")
        .withColumnRenamed("c", "c1"), "w1")
      .join(uniCounts.withColumnRenamed("token", "w2")
        .withColumnRenamed("c", "c2"), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      .withColumn("lift", pXy / (pX * pY))
      .select(col("w1"), col("w2"), col("n"), col("lift"))
  }

  /** Top-k tokens per document by a TF-IDF-style weight. The idf factor
    * is the *rational* N/df (not log(N/df)): transcendental functions are
    * not bit-reproducible across engines, and for RANKING terms within a
    * doc any monotone transform of N/df orders identically — so the
    * rational form keeps the oracle exact without changing the answer.
    * weight = (tf · N) / df computed as one exact integer product
    * (< 2⁵³) and one IEEE division.
    *
    * df is a compact `groupBy(token)` of the (doc, token, tf) aggregate,
    * broadcast-joined back — NOT `count().over(Window.partitionBy(token))`:
    * the window form shuffles the full (doc, token, tf) frame by token
    * and concentrates every occurrence of a hot token ("the") into one
    * partition — a skew magnet at corpus scale. The df frame is
    * vocab-sized (one row per distinct token) and carries NO broadcast
    * hint: a 100 TB corpus's vocabulary (typos, ids, numerics) can run to
    * billions of tokens, where a forced broadcast would exceed driver
    * memory and Spark's broadcast limit — the planner (AQE) picks BHJ
    * when the vocab measures small and a token-partitioned shuffle join
    * otherwise, and the skew fix never depended on the hint (the groupBy
    * removed the hot-token window). Whether the df branch re-tokenizes
    * the corpus or reads a persisted compact tf frame is decided by the
    * planner's size estimate of the input against a measured crossover
    * — see the in-body comment (AQE's runtime stage cache never reuses
    * the branches' shared exchange, r13, so it is a real either/or).
    * N arrives via a broadcast 1-row cross join, not a driver action. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, ordLongs: Int = 32): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // CONDITIONALLY persisted — the 2-consumer arithmetic is
    // scale-dependent, measured both ways in one r14 window (AQE's
    // runtime stage cache does not reuse the branches' shared exchange,
    // r13, so the choice is {cache-write + 1 tokenize} vs {2
    // tokenizes}): at sf0.1 (~0.6 MB corpus) the cache write LOSES
    // (1.28 s no-persist vs 1.48 s persisted — the r12→r13 committed
    // pair's 1.09 → 1.73 s regression was this same sign), at the 10×
    // disjoint corpus (~6 MB) it WINS (3.87 s vs 4.55 s): the per-byte
    // cost of the compact-tf cache write+read undercuts a second
    // corpus-scale tokenize once the text column dominates the scan.
    // The branch keys on the PLANNER's size estimate for the input
    // (stats.sizeInBytes — no action, exact for parquet-backed frames)
    // against the measured ~2 MiB crossover, overridable via
    // -Dgraft.text.tfidfCacheBytes for tests and adversarial corpora.
    // bm25TopTerms (3 corpus-scale consumers) persists unconditionally.
    val crossover = sys.props.get("graft.text.tfidfCacheBytes")
      .map(_.toLong).getOrElse(2L << 20)
    val raw = Par.widen(docs, col(idCol))
      .select(col(idCol).as(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val counts =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes
          <= BigInt(crossover)) raw
      else {
        val cached = tfCacheWindow.add(raw)
        // eager materialization, cached branch only: without it the two
        // consumers can race the COLD cache and each replay the
        // corpus-scale tokenize (the NOTES_r5 convoy bm25TopTerms also
        // guards against with its eager count) — ADVICE r14
        cached.count()
        cached
      }
    val dfByToken = counts.groupBy("token").agg(count(lit(1)).as("df"))
    // Per-doc top-k through the bounded-heap TopKRows aggregate (the
    // bm25 shape): map-side partials ship <= k rows per doc per map
    // partition instead of the window form's full-frame shuffle+sort.
    // weight DESC rides the IEEE-bits transform (exact ties iff equal
    // doubles), token ASC rides StringOrdLongs — total order, rows
    // bit-identical to the row_number form.
    val weighted = counts
      .join(dfByToken, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("weight",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val ord = concat(
      array(graft.ops.TopK.ordDescDouble(col("weight"))),
      graft.functions.StringOrdLongs.stringOrdAsc(col("token"), ordLongs))
    weighted
      .groupBy(col(idCol))
      .agg(graft.functions.TopKRows.topKRows(ord,
        struct(col("token"), col("tf"), col("df"), col("weight")), k)
        .as("__topk"))
      .select(col(idCol),
        posexplode(col("__topk")).as(Seq("__pos", "__e")))
      .select(col(idCol), col("__e.token").as("token"),
        col("__e.tf").as("tf"), col("__e.df").as("df"),
        col("__e.weight").as("weight"),
        (col("__pos") + 1).cast("int").as("rk"))
  }

  /** Literal-rewrite gate for [[segmentPrune]]: a hot set at or below
    * this many segments compiles into the per-row filter as an array
    * LITERAL (each token pays ≤ cap comparisons, measured negligible at
    * 256); a bigger hot set — small `maxDf` line-dedup, where hot is
    * corpus-scale by definition — switches to the exploded anti-join
    * reassembly, whose cost is one token-level shuffle regardless of
    * hot-set size. Sys-prop `graft.text.hotLiteralCap` forces either
    * path in tests. */
  private def hotLiteralCap: Long =
    sys.props.get("graft.text.hotLiteralCap").map(_.toLong).getOrElse(256L)

  /** Corpus-frequency SEGMENT pruning — the C4-style cleanup family
    * (reference-class pipelines drop boilerplate the same way): split
    * each document on `sep`, drop every occurrence of any segment whose
    * corpus-wide DOCUMENT frequency exceeds `maxDf`, and reassemble the
    * survivors in original order. With `sep = "\n"` this is line-level
    * boilerplate removal (nav bars, cookie banners — C4 dropped
    * repeated lines corpus-wide); with `sep = " "` it prunes
    * ubiquitous tokens (stopword-class removal by measured df, not a
    * fixed lexicon).
    *
    * Scale shape, two proven-gated plans (one bounded probe of the df
    * aggregation decides):
    *   - hot set ≤ [[hotLiteralCap]] (large `maxDf` boilerplate
    *     removal: the pigeonhole bounds hot at Σoccurrences/maxDf) —
    *     the segments compile into the row filter as an array LITERAL:
    *     per-row array surgery inside whole-stage codegen, no join of
    *     any kind in the returned plan.
    *   - bigger hot sets (small `maxDf`, e.g. =1 line-dedup, where hot
    *     is every repeated line) — posexplode_outer keyed by a
    *     SYNTHETIC row id, hot segments marked by a left join, one
    *     grouped reassembly (position sort inside the agg): one
    *     token-level shuffle, cost independent of hot-set size, nothing
    *     collected, and no join back to `docs` — so NULL or duplicated
    *     `idCol` values flow through unchanged (the row id, not the
    *     user id, is the grouping key; it lives in a single plan
    *     subtree, so partition-order nondeterminism can't split a row).
    * Both plans are bit-identical (TextAnalysisSpec forces each,
    * including NULL/duplicate ids). Empty docs and docs losing every
    * segment yield the empty string, not NULL.
    *
    * Output: (`idCol`, text_clean, n_segments, n_dropped). */
  def segmentPrune(docs: DataFrame, idCol: String, textCol: String,
                   sep: String, maxDf: Long): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val segs = filter(split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep)), x => x =!= "")
    // document frequency per segment: one exploded distinct-count agg —
    // keys are the segment strings themselves (the hot set must come
    // back as values anyway)
    val hotF = docs
      .select(col(idCol).as("__id"), explode(array_distinct(segs)).as("__seg"))
      .groupBy("__seg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__seg")
    val cap = hotLiteralCap
    val probe = hotF.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
    if (probe.length <= cap) {
      // literal path: the hot set IS the boilerplate list — tiny
      val hotArr = probe.map(_.getString(0)).sorted.toSeq
      val kept =
        if (hotArr.isEmpty) col("__segs")
        else filter(col("__segs"), x => !array_contains(typedlit(hotArr), x))
      docs
        .withColumn("__segs", segs)
        .withColumn("__kept", kept)
        .select(col(idCol),
          concat_ws(sep, col("__kept")).as("text_clean"),
          size(col("__segs")).cast("long").as("n_segments"),
          (size(col("__segs")) - size(col("__kept"))).cast("long").as("n_dropped"))
    } else {
      // join path: the probe burned one evaluation of the df agg; this
      // pays one more — two corpus passes total, still O(tokens)
      // regardless of how big the hot set is. Key discipline: group on
      // a synthetic per-row id (monotonically_increasing_id is
      // partition-deterministic, and it appears in exactly ONE plan
      // subtree — nothing re-derives it — so it cannot diverge), never
      // on the user's idCol, which may be NULL or duplicated.
      // posexplode_outer keeps zero-segment docs as a (NULL pos, NULL
      // seg) row, so every doc survives the grouped reassembly and no
      // join back to `docs` is needed.
      val exploded = docs
        .withColumn("__rid", monotonically_increasing_id())
        .select(col("__rid"), col(idCol).as("__docid"),
          posexplode_outer(segs).as(Seq("__pos", "__seg")))
      // NULL __seg (empty doc) never equals a hot key, so its marker
      // stays NULL — counted as neither segment nor drop
      val marked = exploded.join(
        hotF.withColumn("__hot", lit(true)), Seq("__seg"), "left")
      marked.groupBy("__rid")
        .agg(first(col("__docid")).as(idCol), // constant within the group
          concat_ws(sep, transform(
            sort_array(collect_list(when(
              col("__hot").isNull && col("__seg").isNotNull,
              struct(col("__pos"), col("__seg"))))),
            x => x("__seg"))).as("text_clean"),
          count(col("__seg")).as("n_segments"),
          coalesce(sum(when(col("__hot"), 1L)), lit(0L)).as("n_dropped"))
        .select(col(idCol), col("text_clean"), col("n_segments"),
          col("n_dropped"))
    }
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, table A1 —
    * the publicly documented heuristics every large-corpus pipeline
    * reimplements), evaluated as pure per-row codegen'd expressions:
    *
    *   - word count within [minWords, maxWords]
    *   - mean word length within [3, 10] characters
    *   - symbol-to-word ratio (`#` or `...`) ≤ 0.1
    *   - ≥ 80% of words contain at least one alphabetic character
    *   - ≥ 2 distinct members of the English stop list present
    *
    * (The bullet/ellipsis LINE rules apply per line — compose with
    * [[segmentPrune]]'s line splitting where documents carry newlines.)
    * Flags surface as BOOLEANs plus the conjunction `gopher_keep`; the
    * ratio arithmetic stays internal (integer counts compared by
    * cross-multiplication — no double leaves the operator, so the
    * driver-hash contract holds by construction).
    *
    * Output: (`idCol`, n_words, flag_* ×5, gopher_keep). */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
                         minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val toks = tokens(lower(coalesce(col(textCol), lit(""))))
    val nWords = size(toks).cast("long")
    val totalChars = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    // mean word length in [3, 10]: 3·n ≤ Σlen ≤ 10·n, exact integers
    val meanLenOk = totalChars >= lit(3L) * nWords &&
      totalChars <= lit(10L) * nWords
    val symbolCount = aggregate(toks, lit(0L), (acc, t) =>
      acc + when(t.contains("#") || t.contains("..."), 1L).otherwise(0L))
    // symbol/word ≤ 0.1  ⟺  10·symbols ≤ words
    val symbolOk = lit(10L) * symbolCount <= nWords
    val alphaCount = aggregate(toks, lit(0L), (acc, t) =>
      acc + when(t.rlike("[a-z]"), 1L).otherwise(0L))
    // alpha fraction ≥ 0.8  ⟺  5·alpha ≥ 4·words
    val alphaOk = lit(5L) * alphaCount >= lit(4L) * nWords
    val stopHits = StopEn.map(w =>
      when(array_contains(toks, w), 1L).otherwise(0L)).reduce(_ + _)
    docs.select(col(idCol),
      nWords.as("n_words"),
      (nWords >= minWords && nWords <= maxWords).as("flag_word_count"),
      (nWords > 0 && meanLenOk).as("flag_mean_word_len"),
      symbolOk.as("flag_symbol_ratio"),
      (nWords > 0 && alphaOk).as("flag_alpha_words"),
      (stopHits >= 2L).as("flag_stopwords"),
      (nWords >= minWords && nWords <= maxWords && nWords > 0 && meanLenOk &&
        symbolOk && alphaOk && stopHits >= 2L).as("gopher_keep"))
  }
}
